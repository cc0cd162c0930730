"""Per-document deletes (tombstones) + compaction — the native analog of the
reference's single-record delete surface (deleteDocumentByUUID,
indexer/src/main/java/au/org/aodn/esindexer/service/IndexerMetadataServiceImpl.java:453-474)
with public Lucene live-docs semantics:

- logical delete takes effect immediately on EVERY query path (BM25 top-k,
  batch top-k, phrase, point read, ordered scan);
- corpus stats (idf/avgdl) keep counting deleted docs until compaction, so
  surviving docs' scores are UNCHANGED by a logical delete;
- block-max pruning stays rank-safe under deletion;
- compaction physically purges: the result is score-identical to a fresh
  build of the filtered corpus, and fully-deleted terms drop from the dict;
- a metadata-speed merge carries tombstones (deleted docs never resurrect).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from es_indexer_spark.index import catalog
from es_indexer_spark.index.builder import build_index
from es_indexer_spark.index.merge import merge_indexes
from es_indexer_spark.index.tombstones import compact_index, delete_docs
from es_indexer_spark.query.engine import topk, topk_many
from es_indexer_spark.query.lookup import doc_lookup, scan_after
from es_indexer_spark.query.phrase import phrase_match

QUERY = "spark join window"


def _build(spark, df, root, **kw):
    build_index(
        spark, df, root,
        content_col="text", id_col="doc_id", meta_cols=("lang",),
        tokenizer="standard", n_buckets=8, shard_size=100,
        n_ckpt_batches=2, store_positions=True, **kw,
    )


@pytest.fixture(scope="module")
def deleted_index(spark, documents, tmp_path_factory):
    """Index over the sf corpus with the top-1 doc of QUERY (and the top-1 doc
    of the 'data stream' phrase) logically deleted. Returns
    (root, pre-delete top-15 rows, deleted docid set)."""
    root = str(tmp_path_factory.mktemp("idx_tomb"))
    _build(spark, documents, root)
    before = topk(spark, root, QUERY, k=15, use_blockmax=False).collect()
    phrase_before = phrase_match(spark, root, "data stream", k=3).collect()
    dead = {before[0]["docid"], phrase_before[0]["docid"]}
    delete_docs(spark, root, sorted(dead))
    return root, before, dead


def test_delete_hides_doc_and_keeps_scores(spark, deleted_index):
    root, before, dead = deleted_index
    after = topk(spark, root, QUERY, k=10, use_blockmax=False).collect()
    got = [(r["docid"], r["score"]) for r in after]
    # Lucene semantics: the post-delete ranking is the pre-delete ranking with
    # the dead docs removed — scores of survivors are bit-identical because
    # idf/avgdl still count the deleted docs until compaction.
    want = [(r["docid"], r["score"]) for r in before if r["docid"] not in dead][:10]
    assert got == want
    assert all(d not in {r["docid"] for r in after} for d in dead)


def test_local_and_spark_paths_identical_with_tombstones(
    spark, deleted_index, monkeypatch
):
    """The driver-local path (default at this size) and the Spark path
    (cutover forced to 0) filter the same driver tombstone array: identical
    ranks and bit-identical scores for k, the search_after cursor, k=None
    and a bool query."""
    from es_indexer_spark.query import engine
    from es_indexer_spark.query.boolean import bool_query

    root, _, dead = deleted_index

    def runs():
        p1 = topk(spark, root, QUERY, k=5).collect()
        cur = (p1[-1]["score"], p1[-1]["docid"])
        return [
            [(r["docid"], r["score"]) for r in rows]
            for rows in (
                p1,
                topk(spark, root, QUERY, k=5, after=cur).collect(),
                topk(spark, root, QUERY, k=None).collect(),
                bool_query(spark, root, must=["data"],
                           should=["stream"], k=None).collect(),
            )
        ]

    local = runs()
    monkeypatch.setattr(engine, "LOCAL_MAX_POSTINGS", 0)
    on_spark = runs()
    # Spark's bool k=None has no global order; the local one is ranked
    on_spark[3].sort(key=lambda t: (-t[1], t[0]))
    assert local == on_spark
    assert all(rows for rows in local)
    assert not {d for rows in local for d, _ in rows} & dead


def test_delete_blockmax_rank_safe(spark, deleted_index, monkeypatch):
    from es_indexer_spark.query import engine

    root, _, _ = deleted_index
    # the block-max probe lives on the Spark path
    monkeypatch.setattr(engine, "LOCAL_MAX_POSTINGS", 0)
    bm = topk(spark, root, QUERY, k=10, use_blockmax=True,
              probe_min_postings=0).collect()
    exact = topk(spark, root, QUERY, k=10, use_blockmax=False).collect()
    assert [r["docid"] for r in bm] == [r["docid"] for r in exact]
    for g, w in zip(bm, exact):
        assert g["score"] == pytest.approx(w["score"], rel=1e-12)


def test_delete_batch_path(spark, deleted_index):
    root, before, dead = deleted_index
    rows = topk_many(spark, root, {"q": QUERY}, k=10).collect()
    want = [r["docid"] for r in before if r["docid"] not in dead][:10]
    assert [r["docid"] for r in sorted(rows, key=lambda r: (-r["score"], r["docid"]))] == want


def test_delete_phrase_path(spark, deleted_index):
    root, _, dead = deleted_index
    hits = phrase_match(spark, root, "data stream", k=10).collect()
    assert hits, "phrase should still match surviving docs"
    assert not ({r["docid"] for r in hits} & dead)


def test_delete_lookup_and_scan(spark, deleted_index):
    root, _, dead = deleted_index
    d = next(iter(dead))
    assert doc_lookup(spark, root, [d]).count() == 0
    live = doc_lookup(spark, root, [d, d + 1]).collect()
    assert {r["docid"] for r in live} == {d + 1} - dead
    page = scan_after(spark, root, after=None, page_size=10_000).collect()
    scanned = {r["docid"] for r in page}
    assert not (scanned & dead)


def test_delete_idempotent_and_df_form(spark, deleted_index):
    root, before, dead = deleted_index
    d = next(iter(dead))
    # re-delete one id as a DataFrame: results must not change
    delete_docs(spark, root, spark.createDataFrame([(d,)], "docid long"))
    after = topk(spark, root, QUERY, k=10, use_blockmax=False).collect()
    want = [r["docid"] for r in before if r["docid"] not in dead][:10]
    assert [r["docid"] for r in after] == want


def test_compaction_equals_fresh_build(spark, documents, tmp_path_factory):
    """compact_index purges physically: scores over the survivors must equal a
    fresh build of the filtered corpus (stats now EXCLUDE the deleted docs),
    and the new version carries no tombstones."""
    dead_pred = F.col("doc_id") % 11 == 3
    root = str(tmp_path_factory.mktemp("idx_compact"))
    _build(spark, documents, root)
    dead = [r["doc_id"] for r in documents.filter(dead_pred).select("doc_id").collect()]
    delete_docs(spark, root, dead)
    old_vdir = catalog.resolve(root)
    new_vdir = compact_index(spark, root)
    assert new_vdir != old_vdir
    assert catalog.resolve(root) == new_vdir
    assert not os.path.isdir(os.path.join(new_vdir, "_tombstones"))

    fresh_root = str(tmp_path_factory.mktemp("idx_fresh"))
    _build(spark, documents.filter(~dead_pred), fresh_root)

    for q, bmx in ((QUERY, False), (QUERY, True), ("the", False), ("vector", True)):
        got = topk(spark, root, q, k=10, use_blockmax=bmx,
                   probe_min_postings=0).collect()
        want = topk(spark, fresh_root, q, k=10, use_blockmax=bmx,
                    probe_min_postings=0).collect()
        assert [r["docid"] for r in got] == [r["docid"] for r in want], q
        for g, w in zip(got, want):
            assert g["score"] == pytest.approx(w["score"], rel=1e-9)

    # phrase path (positions survive the re-encode)
    got = phrase_match(spark, root, "data stream", k=10).collect()
    want = phrase_match(spark, fresh_root, "data stream", k=10).collect()
    assert [(r["docid"], r["phrase_tf"]) for r in got] == [
        (r["docid"], r["phrase_tf"]) for r in want
    ]
    for g, w in zip(got, want):
        assert g["score"] == pytest.approx(w["score"], rel=1e-9)

    # stats + dict match the fresh build exactly
    cs, fs = catalog.read_stats(new_vdir), catalog.read_stats(catalog.resolve(fresh_root))
    assert cs["n_docs"] == fs["n_docs"]
    assert cs["avgdl"] == pytest.approx(fs["avgdl"], rel=1e-12)
    cd = {r["term"]: (r["df"], r["cf"]) for r in
          spark.read.parquet(os.path.join(new_vdir, "dict")).collect()}
    fd = {r["term"]: (r["df"], r["cf"]) for r in
          spark.read.parquet(os.path.join(catalog.resolve(fresh_root), "dict")).collect()}
    assert cd == fd


def test_merge_carries_tombstones(spark, documents, tmp_path_factory):
    """A metadata-speed merge must not resurrect deleted docs: main-segment
    tombstones carry verbatim, delta ones carry docid-offset-remapped."""
    main_root = str(tmp_path_factory.mktemp("idx_main"))
    delta_root = str(tmp_path_factory.mktemp("idx_delta"))
    half = documents.filter(F.col("doc_id") < 250)
    rest = (
        documents.filter(F.col("doc_id") >= 250)
        # delta ids restart at 0 so the merge's offset remap is exercised
        .withColumn("doc_id", F.col("doc_id") - 250)
    )
    _build(spark, half, main_root)
    _build(spark, rest, delta_root)
    dead_main = topk(spark, main_root, QUERY, k=1, use_blockmax=False).collect()[0]["docid"]
    dead_delta = topk(spark, delta_root, QUERY, k=1, use_blockmax=False).collect()[0]["docid"]
    delete_docs(spark, main_root, [dead_main])
    delete_docs(spark, delta_root, [dead_delta])

    vdir = merge_indexes(spark, main_root, delta_root)
    offset = catalog.ckpt_read(vdir, "merge")["docid_offset"]
    # each segment's (array-mode) delete set is carried as ONE driver-written
    # file, not a Spark append's part files
    carried = sorted(
        f for f in os.listdir(os.path.join(vdir, "_tombstones"))
        if f.endswith(".parquet")
    )
    assert len(carried) == 2, carried
    assert sorted(
        pq.read_table(os.path.join(vdir, "_tombstones", f))["docid"][0].as_py()
        for f in carried
    ) == sorted([dead_main, dead_delta + offset])
    merged_hits = {r["docid"] for r in
                   topk(spark, main_root, QUERY, k=50, use_blockmax=False).collect()}
    assert dead_main not in merged_hits
    assert (dead_delta + offset) not in merged_hits
    assert doc_lookup(spark, main_root, [dead_main, dead_delta + offset]).count() == 0


def test_upsert_batch_replaces_docs(spark, documents, tmp_path_factory):
    """Reference _id-keyed upsert (IndexerMetadataServiceImpl.java:430-435) as
    delete+add: the replacement appears, the old copy disappears, live doc
    count is unchanged — across TWO upsert generations keyed on the external
    id carried as a meta column."""
    from es_indexer_spark.index.merge import upsert_batch

    main_root = str(tmp_path_factory.mktemp("idx_ups_main"))
    build_index(
        spark, documents, main_root,
        content_col="text", id_col="doc_id", meta_cols=("doc_id", "lang"),
        tokenizer="standard", n_buckets=8, shard_size=100, n_ckpt_batches=2,
    )

    def _delta(tag, lo, hi):
        d = documents.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        d = d.withColumn("text", F.concat(F.lit(tag + " "), F.col("text")))
        root = str(tmp_path_factory.mktemp(f"idx_ups_{tag}"))
        build_index(
            spark, d, root,
            content_col="text", id_col="doc_id", meta_cols=("doc_id", "lang"),
            tokenizer="standard", n_buckets=8, shard_size=100, n_ckpt_batches=1,
        )
        return root

    vdir = upsert_batch(
        spark, main_root, _delta("zzzupserted", 100, 105), key_cols=("doc_id",)
    )
    meta = catalog.ckpt_read(vdir, "merge")
    assert meta["upserted_docs"] == 5

    from es_indexer_spark.query.lookup import scan_after

    live = scan_after(spark, main_root, page_size=10_000).collect()
    assert len(live) == 500, "one live copy per external id"
    by_ext = {}
    for r in live:
        by_ext.setdefault(r["doc_id"], []).append(r)
    assert all(len(v) == 1 for v in by_ext.values())

    hits = topk(spark, main_root, "zzzupserted", k=20, use_blockmax=False).collect()
    hit_ext = {by_ext_docid["doc_id"] for r in hits
               for by_ext_docid in [next(x for v in by_ext.values() for x in v
                                         if x["docid"] == r["docid"])]}
    assert hit_ext == set(range(100, 105))
    # old copies are dead on every path
    assert doc_lookup(spark, main_root, list(range(100, 105))).count() == 0

    # second generation: re-upsert 3 of the 5 (the replacements' docids are
    # remapped, so only the external-id meta key can match them)
    vdir = upsert_batch(
        spark, main_root, _delta("yyysecond", 100, 103), key_cols=("doc_id",)
    )
    assert catalog.ckpt_read(vdir, "merge")["upserted_docs"] == 3
    live = scan_after(spark, main_root, page_size=10_000).collect()
    assert len(live) == 500
    gen1 = topk(spark, main_root, "zzzupserted", k=20, use_blockmax=False).collect()
    gen2 = topk(spark, main_root, "yyysecond", k=20, use_blockmax=False).collect()
    live_by_docid = {r["docid"]: r for r in live}
    gen1_ext = {live_by_docid[r["docid"]]["doc_id"] for r in gen1}
    gen2_ext = {live_by_docid[r["docid"]]["doc_id"] for r in gen2}
    assert gen2_ext == {100, 101, 102}
    assert gen1_ext == {103, 104}, "first-generation copies of 100-102 are gone"

    # physical purge keeps exactly the live set
    new_vdir = compact_index(spark, main_root)
    assert catalog.read_stats(new_vdir)["n_docs"] == 500


def test_streaming_batch_indexer_upsert_mode(spark, documents, tmp_path_factory):
    """make_batch_indexer(upsert_keys=...): batch 2 re-delivers changed docs
    and replaces instead of appending."""
    from es_indexer_spark.streaming import make_batch_indexer

    root = str(tmp_path_factory.mktemp("idx_stream_ups"))
    fn = make_batch_indexer(
        spark, root,
        content_col="text", id_col="doc_id", meta_cols=("doc_id",),
        tokenizer="standard", n_buckets=8, shard_size=100,
        upsert_keys=("doc_id",),
    )
    fn(documents, 0)
    changed = documents.filter(F.col("doc_id") < 10).withColumn(
        "text", F.concat(F.lit("qqqreplaced "), F.col("text"))
    )
    fn(changed, 1)
    from es_indexer_spark.query.lookup import scan_after

    live = scan_after(spark, root, page_size=10_000).collect()
    assert len(live) == 500
    hits = topk(spark, root, "qqqreplaced", k=20, use_blockmax=False).collect()
    assert len(hits) == 10
    # replayed batch (same id) is a no-op
    fn(changed, 1)
    assert len(scan_after(spark, root, page_size=10_000).collect()) == 500


def test_delete_by_query_surfaces(spark, documents, tmp_path_factory):
    """ES delete_by_query: term / bool / match_all shapes (the reference's
    cleanup call is match_all, BaseTestClass.java:61-73)."""
    from es_indexer_spark.index.tombstones import delete_by_query
    from es_indexer_spark.query.lookup import scan_after, term_count

    root = str(tmp_path_factory.mktemp("idx_dbq"))
    _build(spark, documents, root)
    n_total = documents.count()

    # term shape: every live 'lang=en' doc goes, count reported
    n_en = documents.filter("lang = 'en'").count()
    assert delete_by_query(spark, root, field="lang", value="en") == n_en
    assert term_count(spark, root, "lang", "en").collect()[0]["doc_count"] == 0
    # idempotent: nothing live matches anymore
    assert delete_by_query(spark, root, field="lang", value="en") == 0

    # bool shape: docs containing the rare term 'dup' (only live ones count)
    n_dup = delete_by_query(spark, root, must=["dup"])
    assert n_dup > 0
    assert topk(spark, root, "dup", k=5, use_blockmax=False).collect() == []

    # match_all: the reference's cleanup — everything else goes too
    n_rest = delete_by_query(spark, root, match_all=True)
    assert n_en + n_dup + n_rest == n_total
    assert scan_after(spark, root, page_size=10_000).collect() == []
    assert delete_by_query(spark, root, match_all=True) == 0

    with pytest.raises(ValueError):
        delete_by_query(spark, root)


# ---- round 4: distributed tombstone delivery past the driver-array cutoff ---


def test_distributed_tombstones_rank_identical(spark, deleted_index, monkeypatch):
    """With DISTRIBUTED_TOMB_THRESHOLD forced to 0 the ranked path must
    cogroup the shard-keyed delete set with the posting blocks (never a
    driver-collected closure array) and return the EXACT ranking of the
    driver-array path — Lucene live-docs semantics either way."""
    from es_indexer_spark.index import tombstones as tmod

    root, before, dead = deleted_index
    want = topk(spark, root, QUERY, k=10, use_blockmax=False).collect()

    monkeypatch.setattr(tmod, "DISTRIBUTED_TOMB_THRESHOLD", 0)
    got_df = topk(spark, root, QUERY, k=10)
    got = got_df.collect()
    assert [(r["docid"], r["score"]) for r in got] == [
        (r["docid"], r["score"]) for r in want
    ]
    assert all(r["docid"] not in dead for r in got)
    # plan shape: the delete set flows through a cogroup (one shuffle shared
    # with the blocks), not a broadcast/isin
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan


def test_distributed_tombstones_after_pagination(spark, deleted_index, monkeypatch):
    from es_indexer_spark.index import tombstones as tmod

    root, before, dead = deleted_index
    monkeypatch.setattr(tmod, "DISTRIBUTED_TOMB_THRESHOLD", 0)
    p1 = topk(spark, root, QUERY, k=5).collect()
    p2 = topk(
        spark, root, QUERY, k=5,
        after=(p1[-1]["score"], p1[-1]["docid"]),
    ).collect()
    joint = [r["docid"] for r in p1 + p2]
    want = [r["docid"] for r in before if r["docid"] not in dead][:10]
    assert joint == want


def test_tombstone_count_and_shards(spark, deleted_index):
    from es_indexer_spark.index import tombstones as tmod
    from es_indexer_spark.index import catalog as cat

    root, _, dead = deleted_index
    vdir = cat.resolve(root)
    # count is an upper bound (test_delete_idempotent re-deleted one id)
    assert tmod.tombstone_count(spark, vdir) >= len(dead)
    rows = tmod.tombstone_shards(spark, vdir, 100).collect()
    assert {r["docid"] for r in rows} == dead  # distinct, exact
    assert all(r["shard"] == r["docid"] // 100 for r in rows)


def test_distributed_tombstones_batch_path(spark, deleted_index, monkeypatch):
    """topk_many under the forced distributed threshold: cogrouped delete
    set, per-qid results identical to the driver-array path."""
    from es_indexer_spark.index import tombstones as tmod

    root, _, dead = deleted_index
    qs = {"qa": QUERY, "qb": "data stream"}
    want = sorted(
        (r["qid"], r["docid"], r["score"])
        for r in topk_many(spark, root, qs, k=10).collect()
    )
    monkeypatch.setattr(tmod, "DISTRIBUTED_TOMB_THRESHOLD", 0)
    got_df = topk_many(spark, root, qs, k=10)
    got = sorted((r["qid"], r["docid"], r["score"]) for r in got_df.collect())
    assert got == want
    assert all(d not in dead for _, d, _ in got)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan


def test_distributed_tombstones_phrase_path(spark, deleted_index, monkeypatch):
    from es_indexer_spark.index import tombstones as tmod

    root, _, dead = deleted_index
    want = [(r["docid"], r["phrase_tf"], r["score"])
            for r in phrase_match(spark, root, "data stream", k=10).collect()]
    monkeypatch.setattr(tmod, "DISTRIBUTED_TOMB_THRESHOLD", 0)
    got_df = phrase_match(spark, root, "data stream", k=10)
    got = [(r["docid"], r["phrase_tf"], r["score"]) for r in got_df.collect()]
    assert got == want
    assert all(d not in dead for d, _, _ in got)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan


def test_distributed_tombstones_mpp_path(spark, deleted_index, monkeypatch):
    """match_phrase_prefix under the forced distributed threshold: the delete
    set cogroups with the blocks (no driver array), results identical."""
    from es_indexer_spark.index import tombstones as tmod
    from es_indexer_spark.query.phrase import match_phrase_prefix

    root, _, dead = deleted_index
    want = [(r["docid"], r["phrase_tf"], r["score"])
            for r in match_phrase_prefix(spark, root, "data s", k=10).collect()]
    monkeypatch.setattr(tmod, "DISTRIBUTED_TOMB_THRESHOLD", 0)
    got_df = match_phrase_prefix(spark, root, "data s", k=10)
    got = [(r["docid"], r["phrase_tf"], r["score"]) for r in got_df.collect()]
    assert got == want and got
    assert all(d not in dead for d, _, _ in got)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan


def test_distributed_tombstones_bool_path(spark, deleted_index, monkeypatch):
    """bool_query under the forced distributed threshold — with AND without a
    range filter stacked (the delete set and the filter set must share ONE
    kind-tagged cogroup)."""
    from es_indexer_spark.index import tombstones as tmod
    from es_indexer_spark.query.boolean import bool_query

    root, _, dead = deleted_index

    def run(**kw):
        df = bool_query(spark, root, must=["data"], should=["stream", "batch"], **kw)
        return df, [(r["docid"], r["score"]) for r in df.collect()]

    _, want_plain = run(k=20)
    _, want_rng = run(k=20, filter_phrase="data stream")
    monkeypatch.setattr(tmod, "DISTRIBUTED_TOMB_THRESHOLD", 0)
    df_plain, got_plain = run(k=20)
    df_rng, got_rng = run(k=20, filter_phrase="data stream")
    assert got_plain == want_plain and got_plain
    assert got_rng == want_rng and got_rng
    assert all(d not in dead for d, _ in got_plain + got_rng)
    for df in (df_plain, df_rng):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapCoGroupsInPandas" in plan


def test_distributed_tombstones_bool_with_range_filter(spark, documents, tmp_path_factory, monkeypatch):
    """Range filter + distributed tombstones stack: both sets ride the same
    cogroup; an empty allowed-set shard must stay empty (not leak candidates)."""
    from es_indexer_spark.index import tombstones as tmod
    from es_indexer_spark.query.boolean import bool_query

    root = str(tmp_path_factory.mktemp("idx_tomb_rng"))
    build_index(
        spark, documents, root,
        content_col="text", id_col="doc_id", meta_cols=("lang", "n_chars"),
        tokenizer="standard", n_buckets=8, shard_size=100,
        n_ckpt_batches=2, store_positions=True,
    )
    kw = dict(must=["data"], filter_range=("n_chars", {"gte": 200, "lt": 800}), k=None)
    before = {r["docid"]: r["score"] for r in bool_query(spark, root, **kw).collect()}
    dead = sorted(before)[:3]
    delete_docs(spark, root, dead)
    want = {d: s for d, s in before.items() if d not in dead}
    monkeypatch.setattr(tmod, "DISTRIBUTED_TOMB_THRESHOLD", 0)
    got = {r["docid"]: r["score"] for r in bool_query(spark, root, **kw).collect()}
    assert got == want


def test_distributed_tombstones_multifield_path(spark, documents, tmp_path_factory, monkeypatch):
    """multi_match under the forced distributed threshold: per-field delete
    sets ride one field-tagged cogroup; ranking identical to array mode."""
    from es_indexer_spark.index import tombstones as tmod
    from es_indexer_spark.query.multifield import build_multi_index, multi_match, field_dir

    root = str(tmp_path_factory.mktemp("idx_tomb_mf"))
    src = documents.withColumn(
        "title", F.array_join(F.slice(F.split(F.col("text"), " "), 1, 8), " ")
    )
    build_multi_index(
        spark, src, root,
        fields={"title": "title", "body": "text"},
        id_col="doc_id", shard_size=100,
        tokenizer="standard", n_buckets=4, n_ckpt_batches=2,
    )
    q, boosts = "data stream", {"title": 2.0, "body": 1.0}
    before = multi_match(spark, root, q, boosts=boosts, k=20).collect()
    dead = [before[0]["docid"], before[2]["docid"]]
    # delete from BOTH sub-indexes (the docid space is shared)
    for f in ("title", "body"):
        delete_docs(spark, field_dir(root, f), dead)
    want = [(r["docid"], r["score"]) for r in multi_match(spark, root, q, boosts=boosts, k=10).collect()]
    monkeypatch.setattr(tmod, "DISTRIBUTED_TOMB_THRESHOLD", 0)
    got_df = multi_match(spark, root, q, boosts=boosts, k=10)
    got = [(r["docid"], r["score"]) for r in got_df.collect()]
    assert got == want and got
    assert all(d not in dead for d, _ in got)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan


def test_distributed_compaction_identical(spark, documents, tmp_path_factory, monkeypatch):
    """compact_index under the forced distributed threshold: the delete set
    cogroups with the blocks (never a driver array) and the compacted index
    is byte-equivalent in behavior — every read path identical to the
    array-mode compaction of the same index state."""
    from es_indexer_spark.index import tombstones as tmod

    dead_pred = F.col("doc_id") % 7 == 2
    dead = [r["doc_id"] for r in documents.filter(dead_pred).select("doc_id").collect()]

    roots = {}
    for mode in ("array", "dist"):
        root = str(tmp_path_factory.mktemp(f"idx_cmp_{mode}"))
        _build(spark, documents, root)
        delete_docs(spark, root, dead)
        roots[mode] = root
    compact_index(spark, roots["array"])
    monkeypatch.setattr(tmod, "DISTRIBUTED_TOMB_THRESHOLD", 0)
    new_vdir = compact_index(spark, roots["dist"])
    monkeypatch.undo()
    assert catalog.resolve(roots["dist"]) == new_vdir

    for q, bmx in ((QUERY, False), (QUERY, True), ("the", False)):
        a = topk(spark, roots["array"], q, k=10, use_blockmax=bmx,
                 probe_min_postings=0).collect()
        d = topk(spark, roots["dist"], q, k=10, use_blockmax=bmx,
                 probe_min_postings=0).collect()
        assert [(r["docid"], r["score"]) for r in a] == [
            (r["docid"], r["score"]) for r in d
        ], q
    a = phrase_match(spark, roots["array"], "data stream", k=10).collect()
    d = phrase_match(spark, roots["dist"], "data stream", k=10).collect()
    assert [(r["docid"], r["phrase_tf"], r["score"]) for r in a] == [
        (r["docid"], r["phrase_tf"], r["score"]) for r in d
    ]
    # purged_docs metadata records the distinct delete count in both modes
    import json

    for mode in roots:
        from es_indexer_spark.index.catalog import ckpt_read

        meta = ckpt_read(catalog.resolve(roots[mode]), "_PUBLISHED")
        assert meta["purged_docs"] == len(dead), mode
