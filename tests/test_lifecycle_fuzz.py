"""Randomized index-lifecycle fuzz: hypothesis drives the user-facing
``_bulk`` write API through arbitrary add / overwrite / delete histories
and checks the engine's durable invariants after every history:

1. **membership** — the live match set equals a pure-Python truth model of
   the same action sequence (last write wins per id, deletes hide
   immediately);
2. **sha256 per-row invariant** (the north-rule contract) — every live
   doc's stored sha256 equals the hash of the truth text;
3. **replay idempotence** (the reference's bulk-retry contract,
   IndexServiceImpl.java:153-172) — re-sending the final bulk request
   verbatim changes no MEMBERSHIP and no stored content. Scores may drift:
   a replayed upsert tombstones the previous copy, which keeps
   contributing to df/N until compaction — exactly Lucene/ES, where
   deleted docs shift idf until a segment merge (first found by this
   fuzzer, verified against ES's documented deleted-docs behavior);
   check 4 closes the loop by proving the post-compaction scores equal a
   from-scratch build, so the drift is bounded and purge-able;
4. **compaction equivalence** — after ``compact_index`` the ranked scores
   are identical to a from-scratch build of the surviving corpus.

Each bulk call draws its write path: driver-local (``index/driver_write``)
or Spark (the payload cutover forced to 0), so mixed histories also check
that either path reads and extends the other's output.

The fixed-scenario versions of 3 and 4 live in tests/test_tombstones.py /
test_bulk.py; this module generalizes them across random histories (the
reference has no randomized tests — SURVEY.md §5)."""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from es_indexer_spark.index import catalog, driver_write
from es_indexer_spark.index.builder import build_index
from es_indexer_spark.index.bulk import bulk
from es_indexer_spark.index.tombstones import compact_index
from es_indexer_spark.query.engine import topk

VOCAB = ["data", "stream", "spark", "join", "window",
         "index", "query", "score", "alpha", "beta"]
IDS = st.integers(min_value=0, max_value=29)
TEXT = st.lists(st.sampled_from(VOCAB), min_size=3, max_size=10).map(" ".join)
ACTION = st.one_of(
    st.tuples(st.just("index"), IDS, TEXT),
    st.tuples(st.just("delete"), IDS, st.just("")),
)
HISTORY = st.tuples(
    st.dictionaries(IDS, TEXT, min_size=8, max_size=16),   # initial corpus
    st.lists(st.tuples(st.lists(ACTION, min_size=1, max_size=5),  # bulk calls
                       st.booleans()),                      # on Spark?
             min_size=1, max_size=2),
)

PROBE = "data stream spark"


def _build(spark, root, corpus: dict[int, str]) -> None:
    df = spark.createDataFrame(
        sorted(corpus.items()), "doc_id long, text string")
    build_index(
        spark, df, root, content_col="text", id_col="doc_id",
        meta_cols=("doc_id",), tokenizer="standard",
        n_buckets=4, shard_size=64, n_ckpt_batches=1,
    )


def _hits(spark, root, query: str) -> list[tuple[int, float]]:
    """(external doc_id, score) rows, rank order."""
    rows = topk(spark, root, query, k=None).collect()
    docs = {
        r["docid"]: r["doc_id"]
        for r in spark.read.parquet(catalog.resolve(root) + "/docs")
        .select("docid", "doc_id").collect()
    }
    return [(docs[r["docid"]], round(r["score"], 6)) for r in rows]


def _live_shas(spark, root) -> dict[int, str]:
    """{external doc_id: stored sha256} over the LIVE docs only — the docs
    table keeps tombstoned predecessors (Lucene deleted docs), so a naive
    read would see stale copies of upserted ids."""
    live = topk(spark, root, " ".join(VOCAB), k=None).select("docid")
    docs = spark.read.parquet(catalog.resolve(root) + "/docs")
    return {
        r["doc_id"]: r["sha256"]
        for r in docs.join(live, "docid").select("doc_id", "sha256").collect()
    }


def _apply(spark, root, call, truth: dict[int, str]) -> None:
    actions, on_spark = call
    blk = []
    for op, i, txt in actions:
        if op == "index":
            blk.append({"op": "index", "_id": i, "doc": {"text": txt}})
            truth[i] = txt
        else:
            blk.append({"op": "delete", "_id": i})
            truth.pop(i, None)
    with pytest.MonkeyPatch.context() as mp:
        if on_spark:
            mp.setattr(driver_write, "MAX_PAYLOAD_BYTES", 0)
        res = bulk(spark, root, blk, content_col="text", id_col="doc_id",
                   meta_cols=("doc_id",))
    assert not res["errors"]


@settings(max_examples=4, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(HISTORY)
def test_bulk_lifecycle_invariants(spark, tmp_path_factory, history):
    init, calls = history
    base = tmp_path_factory.mktemp("fuzz_lc")
    root = str(base / "idx")
    _build(spark, root, init)
    truth = dict(init)
    for call in calls:
        _apply(spark, root, call, truth)

    # 1. membership: every-term probe matches exactly the live truth set
    all_terms = " ".join(VOCAB)
    live = sorted(i for i, _ in _hits(spark, root, all_terms))
    assert live == sorted(truth)

    # 2. sha256 per-row invariant over the live docs
    stored = _live_shas(spark, root)
    assert sorted(stored) == sorted(truth)
    for i, txt in truth.items():
        assert stored[i] == hashlib.sha256(txt.encode()).hexdigest()

    # 3. replay idempotence: re-send the last bulk request verbatim —
    # membership and stored content must not change (scores may drift
    # until compaction: the replayed upsert's tombstoned predecessor
    # still counts in df/N, Lucene's deleted-docs idf behavior)
    before_ids = {i for i, _ in _hits(spark, root, PROBE)}
    replay_truth = dict(truth)
    _apply(spark, root, calls[-1], replay_truth)
    assert replay_truth == truth  # the model is idempotent too
    assert {i for i, _ in _hits(spark, root, PROBE)} == before_ids
    stored2 = _live_shas(spark, root)
    assert sorted(stored2) == sorted(truth)
    for i, txt in truth.items():
        assert stored2[i] == hashlib.sha256(txt.encode()).hexdigest()

    # 4. compaction == from-scratch build of the surviving corpus.
    # Equal-score ties break on INTERNAL docid (ES's tie order is equally
    # shard-dependent), and internal ids differ between the compacted and
    # fresh indexes — so compare under a deterministic (score, doc_id) sort.
    key = lambda h: sorted(h, key=lambda t: (-t[1], t[0]))  # noqa: E731
    compact_index(spark, root)
    got = _hits(spark, root, PROBE)
    if truth:
        fresh = str(base / "fresh")
        _build(spark, fresh, truth)
        assert key(got) == key(_hits(spark, fresh, PROBE))
    else:
        assert got == []
