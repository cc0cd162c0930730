"""Randomized BM25 differential fuzz against DuckDB — the CORE ranked path.

Hypothesis draws 1–4-term disjunctive queries from a frequency-diverse
vocabulary (stop-word-frequency tokens, mid, rare and absent) and runs the
engine's `topk` on both serving paths (driver-local, and Spark with the
cutover forced to 0) against an independently-computed DuckDB BM25 over
the same parquet (the same independent formula the verify recipe pins for
one fixed query). The FULL match set (k=None) must agree doc-for-doc and
score-for-score at 6 decimals on each path; for half the cases the Spark
path also runs a k=5 query with the block-max probe FORCED ON (k=None
never probes), checked tie-aware against the DuckDB top 5. So the
dictionary lookup, the pruned postings scan, the per-shard numpy scorer,
live-docs filtering (none here) and the block-max pruning all get swept
at once."""

from __future__ import annotations

import uuid

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from es_indexer_spark.index.builder import build_index
from es_indexer_spark.query import engine
from es_indexer_spark.query.engine import topk

DOCS = "/root/testdata/sf0.001/documents.parquet"
TOKENS = ["the", "data", "stream", "a", "of", "key", "batch", "spark",
          "join", "window", "customer", "index", "zzabsent"]


@pytest.fixture(scope="module")
def bm_index(spark, documents, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx_bm25fuzz"))
    build_index(
        spark, documents, root,
        content_col="text", id_col="doc_id",
        tokenizer="standard", n_buckets=8, shard_size=100,
        n_ckpt_batches=2,
    )
    return root


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.sql(f"""
CREATE TABLE t2 AS
SELECT doc_id, term FROM (
  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
  FROM read_parquet('{DOCS}')) WHERE term <> ''""")
    con.sql("""
CREATE TABLE tf AS SELECT doc_id, term, count(*)::DOUBLE AS tf
FROM t2 GROUP BY 1, 2""")
    con.sql("CREATE TABLE dl AS SELECT doc_id, count(*)::DOUBLE AS dl "
            "FROM t2 GROUP BY 1")
    con.sql("CREATE TABLE st AS SELECT count(*)::DOUBLE AS n, avg(dl) "
            "AS avgdl FROM dl")
    con.sql("CREATE TABLE df AS SELECT term, count(*)::DOUBLE AS df "
            "FROM tf GROUP BY 1")
    return con


def _duck_scores(con, terms):
    tl = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    return con.sql(f"""
SELECT tf.doc_id,
       round(sum(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5))
                 * tf.tf * 2.2
                 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)))::DOUBLE,
             6) AS score
FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st
WHERE tf.term IN ({tl})
GROUP BY 1 ORDER BY 2 DESC, 1 ASC""").fetchall()


QUERY = st.tuples(
    st.lists(st.sampled_from(TOKENS), min_size=1, max_size=4, unique=True),
    st.booleans(),
)


def _rounded(df):
    # the engine tie-breaks on the RAW double before rounding; compare both
    # sides under the same (rounded score desc, docid asc) order
    got = [(r["docid"], round(r["score"], 6)) for r in df.collect()]
    return sorted(got, key=lambda t: (-t[1], t[0]))


@settings(max_examples=30, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(QUERY)
def test_topk_matches_duckdb_bm25(spark, bm_index, duck, case):
    """Each case runs on both serving paths: driver-local (the default at
    this corpus size) and Spark (cutover forced to 0)."""
    terms, bmax = case
    q = " ".join(terms)
    want = [(d, s) for d, s in _duck_scores(duck, terms)]
    assert _rounded(topk(spark, bm_index, q, k=None, use_blockmax=bmax)) == want
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(engine, "LOCAL_MAX_POSTINGS", 0)
        assert _rounded(
            topk(spark, bm_index, q, k=None, use_blockmax=bmax)
        ) == want
        if bmax and want:
            # force the probe to actually run (the default threshold keeps
            # it off at this corpus size; k=None disables it): it is the
            # only part of topk that launches jobs before the collect
            k = 5
            sc = spark.sparkContext
            group = f"bm25fuzz-probe-{uuid.uuid4().hex}"
            sc.setJobGroup(group, "block-max probe")
            try:
                df = topk(spark, bm_index, q, k=k, probe_min_postings=0)
                assert sc.statusTracker().getJobIdsForGroup(group)
            finally:
                sc.setJobGroup("", "")
            got = _rounded(df)
            # tie-aware top-k: the same score sequence, every hit a true match
            assert [s for _, s in got] == [s for _, s in want[:k]]
            assert set(got) <= set(want)
