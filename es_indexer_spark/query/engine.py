"""Distributed BM25 top-k over the block-compressed index.

The reference delegates ranked search to Elasticsearch/Lucene (SURVEY.md §3.3); this
module is the native replacement. Query lifecycle (one narrow shuffle, no per-row
Python):

1. driver: open the published version through the index reader
   (index/reader.py), tokenize the query with the exact document analysis
   chain (as the reference does via ES `_analyze`), look the terms up in the
   reader's dictionary memo (a single-threaded parquet point-read on the
   driver on a miss, term row-group pruning, no Spark job) -> (df, bucket)
   per term; compute Lucene idf from the version's stats;
1b. driver-local serving: when the query's posting volume Σ df is below
   ``LOCAL_MAX_POSTINGS`` (and the delete set is a driver array), the driver
   reads the query terms' blocks from the query buckets' files itself, runs
   the SAME per-shard scorer (step 4) shard by shard, merges on (score desc,
   docid asc) and returns a local relation — zero Spark jobs, like Lucene
   answering a small term query in-process. The cutover is where the Spark
   job floor stops dominating and driver memory starts to matter (derivation
   at the constant); above it, steps 2-5 run unchanged;
2. executors: read only the posting blocks of the query terms — partition pruning on
   ``bucket``/``term`` parquet min/max row-group pruning (blocks are written bucket- and term-sorted) — then score
   shard-by-shard (blocks are shard-local by construction);
3. block-max pruning (Ding & Suel, SIGIR 2011, adapted to the shard-parallel
   setting): a probe pass exact-scores the densest shard; its k-th score θ is a lower
   bound on the global k-th score, so every other shard may skip any block with
   ``idf*max_score_free + Σ_{other terms} max_ub < θ`` — provably rank-safe (skipped
   docs' true scores are < θ ≤ every true top-k score);
4. per-shard exact DAAT scoring, fully vectorized (decode varints -> np.unique /
   bincount accumulate) inside one applyInPandas; partition-local top-k;
5. global merge: ORDER BY score DESC, docid ASC LIMIT k (ties broken by docid for
   deterministic, rank-identical output), then an optional broadcast join back to the
   doc table for metadata (SURVEY.md J6).

At 100 TB / 1000 executors: step 2 reads O(|q|) terms' postings only; step 4 is
embarrassingly parallel over shards; step 5 shuffles ≤ shards × k rows.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from es_indexer_spark.analysis.tokenizer import tokenize_one
from es_indexer_spark.index.codec import bm25, decode_block, decode_blocks_batch
from es_indexer_spark.index.reader import open_index, open_version
from es_indexer_spark.index.tombstones import live_mask
from es_indexer_spark.query.bm25 import lucene_idf

_SCORE_SCHEMA = "docid long, score double"

def _shard_scorer(
    idfs: dict[str, float],
    k1: float,
    b: float,
    theta: float,
    k: int,
    avgdl: float,
    tomb: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
):
    """applyInPandas per-shard scorer: block-max prune then exact vectorized DAAT.

    ``tomb``: sorted tombstoned-docid array (index/tombstones.py) — logically
    deleted docs are dropped right after block decode (Lucene live-docs-bitset
    semantics: postings and corpus stats keep counting them until compaction).
    Rank-safe under block-max pruning: removing docs can only LOWER the probe
    shard's θ, and block upper bounds stay valid for the filtered blocks.

    ``score`` takes an optional per-shard ``tomb_local`` override — the
    distributed-tombstone cogroup path (past DISTRIBUTED_TOMB_THRESHOLD
    deletes) derives it from the shard-keyed tombstone DataFrame instead of a
    driver-collected closure array."""

    def score(
        pdf: pd.DataFrame, tomb_local: np.ndarray | None = None
    ) -> pd.DataFrame:
        tomb = tomb_local if tomb_local is not None else score.tomb_default
        if len(pdf) == 0:
            return pd.DataFrame({"docid": [], "score": []})
        ub = pdf["max_score_free"].to_numpy() * pdf["term"].map(idfs).to_numpy()
        if theta > float("-inf") and len(idfs) > 0:
            # Hot-term SALTING can put the same doc in several blocks of the
            # same term (one posting slice each, contributions summed at
            # score time), so "max one block per (doc, term)" — the classic
            # block-max assumption — is unsound here: bounding a doc's
            # per-term gain by the term's single best block under-counts
            # salted docs and wrongly prunes true top-k members (found on
            # the 200k-file corpus, round 4). Sound refinement: partition
            # each term's blocks into docid-DISJOINT chains (greedy interval
            # partitioning — true slices are disjoint chains, so the greedy
            # count never exceeds the slice count); a doc meets at most one
            # block per chain, so Σ over chains of the chain's max ub is a
            # true per-term bound, and each (term, chain) acts as a
            # pseudo-term in the original formula. Unsalted terms form one
            # chain — identical to the classic bound.
            firsts = pdf["first_docid"].to_numpy()
            lasts = pdf["last_docid"].to_numpy()
            terms = pdf["term"].to_numpy()
            chain_key = np.zeros(len(pdf), dtype=np.int64)
            chain_max: dict[tuple, float] = {}
            for t in np.unique(terms):
                idx = np.nonzero(terms == t)[0]
                order = idx[np.argsort(firsts[idx], kind="stable")]
                ends: list[int] = []  # per-chain last_docid so far
                for i in order:
                    for c, e in enumerate(ends):
                        if e < firsts[i]:
                            ends[c] = lasts[i]
                            chain_key[i] = c
                            break
                    else:
                        chain_key[i] = len(ends)
                        ends.append(lasts[i])
                for i in idx:
                    kk = (t, chain_key[i])
                    if ub[i] > chain_max.get(kk, float("-inf")):
                        chain_max[kk] = ub[i]
            total = sum(chain_max.values())
            # keep block B in chain (t,c) iff ub(B) + Σ_{(t',c')≠(t,c)} max_ub >= θ
            other = np.array(
                [total - chain_max[(terms[i], chain_key[i])] for i in range(len(pdf))]
            )
            keep = (ub + other) >= theta
            pdf = pdf[keep]
            if len(pdf) == 0:
                return pd.DataFrame({"docid": [], "score": []})
            ub = ub[keep]
        # batch decode: ALL blocks of the shard in three vectorized varint
        # passes (codec.decode_blocks_batch) — the former per-block Python
        # loop paid ~30 µs of numpy call overhead × 3 arrays × blocks, which
        # dominated stop-wordy queries (10^4 tiny blocks per shard)
        ns = pdf["n"].to_numpy(dtype=np.int64)
        docids, t, l, _offs = decode_blocks_batch(
            pdf["gaps"], pdf["tfs"], pdf["dls"],
            pdf["first_docid"].to_numpy(), ns,
        )
        if docids.size == 0:
            return pd.DataFrame({"docid": [], "score": []})
        tf = t.astype(np.float64)
        dl = l.astype(np.float64)
        idf_per = np.repeat(pdf["term"].map(idfs).to_numpy(dtype=np.float64), ns)
        contribs = bm25(idf_per, tf, dl, avgdl, k1, b)
        if tomb is not None:
            keep = live_mask(tomb, docids)
            if keep is not None:
                docids, contribs = docids[keep], contribs[keep]
            if docids.size == 0:
                return pd.DataFrame({"docid": [], "score": []})
        # canonicalize the summation order: Spark does not keep the block-row
        # arrival order stable across jobs, and float64 addition does not
        # commute bitwise — sorting the (docid, contribution) pairs makes the
        # per-doc sum bit-identical on every run (equal values commute), which
        # the search_after cursor's == leg depends on across page jobs
        order = np.lexsort((contribs, docids))
        docids, contribs = docids[order], contribs[order]
        uniq, inv = np.unique(docids, return_inverse=True)
        scores = np.bincount(inv, weights=contribs)
        if after is not None:
            # ranked search_after: keep only docs strictly after the cursor in
            # (score desc, docid asc) order. Scores are recomputed bit-identically
            # across pages (same float64 reduction per doc), so the == leg of the
            # tiebreak is exact.
            s_a, d_a = after
            keep = (scores < s_a) | ((scores == s_a) & (uniq > d_a))
            uniq, scores = uniq[keep], scores[keep]
            if uniq.size == 0:
                return pd.DataFrame({"docid": [], "score": []})
        if uniq.size > k:
            # partition-local top-k (score desc, docid asc) — global merge re-sorts
            order = np.lexsort((uniq, -scores))[:k]
        else:
            order = np.argsort(-scores, kind="stable")
        return pd.DataFrame({"docid": uniq[order], "score": scores[order]})

    score.tomb_default = tomb
    return score


def _single(scorer):
    """Hide the scorer's optional ``tomb_local`` parameter from
    applyInPandas's arity dispatch (a 2-param function reads as (key, pdf))."""
    return lambda pdf: scorer(pdf)


def _apply_scorer(
    blocks: DataFrame, scorer, tomb_shards: DataFrame | None, schema: str | None = None
):
    """groupBy-apply a per-shard scorer, cogrouping the shard-keyed
    tombstone DataFrame when the distributed path is active.  An empty right
    group passes an empty (sorted) array — live_mask treats it as
    nothing-deleted. ``schema`` defaults to the single-query score schema;
    the batch scorer passes its (qid, docid, score) shape."""
    schema = schema or _SCORE_SCHEMA
    if tomb_shards is None:
        return blocks.groupBy("shard").applyInPandas(
            lambda pdf: scorer(pdf), schema
        )

    def cg(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        return scorer(
            left, np.unique(right["docid"].to_numpy(dtype=np.int64))
        )

    return (
        blocks.groupBy("shard")
        .cogroup(tomb_shards.groupBy("shard"))
        .applyInPandas(cg, schema)
    )


# Driver-local serving cutover: a ranked query whose posting volume (Σ df of
# its dictionary rows, known before any block is read) is below this reads
# its blocks on the driver and scores them there, with the same shard scorer,
# instead of launching Spark jobs. Measured on a 4-vCPU VM (local[4], Spark
# 4.1.2, 50k code_files, k=10, medians): the driver reads, decodes and scores
# ~1.6M postings/s single-threaded after a ~40 ms fixed cost, while the Spark
# path pays ~440 ms of job floor before its first posting and then moves
# ~1.8M postings/s over its 4 executor slots (379k postings: 240 ms local vs
# 620-720 ms Spark). So the driver wins up to ~7M postings on that box, and
# up to floor × driver rate ≈ 0.64M postings however wide the executors are.
# Driver memory binds first: the resident set grows ~30 B per posting read
# (379k postings: +11 MB), so the cutover is 2^19 ≈ 524k postings, at most
# ~16 MB and ~0.37 s of driver work. Tests and the plan audit set it to 0 to
# pin the Spark path (the DISTRIBUTED_TOMB_THRESHOLD idiom).
LOCAL_MAX_POSTINGS = 1 << 19

# block columns the ranked scorer reads without a θ bound
_TOPK_COLUMNS = (
    "term", "shard", "n", "first_docid", "gaps", "tfs", "dls", "max_score_free",
)


def _local_topk(
    spark: SparkSession,
    blocks: pd.DataFrame | None,
    scorer,
    k: int | None,
    right: pd.DataFrame | None = None,
) -> DataFrame:
    """Run a per-shard scorer over driver-read blocks shard by shard (the
    grouping Spark's applyInPandas gives it), merge on (score desc, docid
    asc) and return the top ``k`` (all when None) as a local relation:
    collecting it launches no Spark job.

    ``right`` is the driver's copy of a cogroup's right side (rows keyed by
    ``shard``). With it the scorer takes ``(left, right)`` per shard, for
    every shard of either side, an absent side as an empty frame: the
    grouping Spark's cogroup gives it."""
    left = {} if blocks is None else dict(list(blocks.groupby("shard", sort=False)))
    if right is None:
        outs = [scorer(pdf) for pdf in left.values()]
    else:
        rg = dict(list(right.groupby("shard", sort=False)))
        no_left = (pd.DataFrame({"shard": [], "term": []}) if blocks is None
                   else blocks.iloc[:0])
        outs = [
            scorer(left.get(s, no_left), rg.get(s, right.iloc[:0]))
            for s in sorted(left.keys() | rg.keys())
        ]
    d = np.concatenate(
        [o["docid"].to_numpy(dtype=np.int64) for o in outs] or [np.empty(0, np.int64)]
    )
    s = np.concatenate(
        [o["score"].to_numpy(dtype=np.float64) for o in outs]
        or [np.empty(0, np.float64)]
    )
    if d.size == 0:
        return empty_scores(spark)
    order = np.lexsort((d, -s))
    if k is not None:
        order = order[:k]
    return spark.createDataFrame(
        pa.table({"docid": pa.array(d[order]), "score": pa.array(s[order])})
    )


_EMPTY: dict[tuple[str, str], DataFrame] = {}


def empty_scores(spark: SparkSession, schema: str = _SCORE_SCHEMA) -> DataFrame:
    """A shared empty result with ``schema``. The always-false filter lets
    the optimizer replace it with an empty local relation, so collecting it
    (or anything built on it) launches no Spark job, where an empty
    ``createDataFrame`` is an RDD scan that does."""
    key = (spark.sparkContext.applicationId, schema)
    df = _EMPTY.get(key)
    if df is None:
        df = _EMPTY[key] = spark.createDataFrame([], schema).where(F.lit(False))
    return df


def topk(
    spark: SparkSession,
    index_root: str,
    query: str,
    k: int | None = 10,
    *,
    use_blockmax: bool = True,
    lang: str | None = None,
    synonyms: dict[str, list[str]] | None = None,
    probe_min_postings: int = 1 << 22,
    after: tuple[float, int] | None = None,
    analyzed_terms: list[str] | None = None,
) -> DataFrame:
    """Top-k (docid, score) for ``query`` against the published index version.

    ``analyzed_terms``: already-analyzed dictionary terms to score instead of
    tokenizing ``query`` — for callers that selected terms straight from the
    dictionary (more_like_this), where re-running the analysis chain is not
    an identity (e.g. the code tokenizer re-splits some dictionary terms).

    ``synonyms``: optional acronym→expansion rules applied to the *query* terms
    only (search-time synonym_graph semantics — SURVEY.md §1.3; documents are
    never rewritten). Build rules with
    :func:`es_indexer_spark.analysis.synonyms.build_synonym_rules`.

    ``after``: ranked keyset pagination (ES ``search_after`` on the ranked
    surface — SURVEY.md §3.3): pass the previous page's last (score, docid)
    to get the next k hits strictly after it in (score desc, docid asc)
    order. Pages concatenate exactly to a single larger-k ranking. The
    block-max probe is disabled under ``after`` (a theta derived from the
    UNfiltered ranking could prune blocks whose docs belong on later pages);
    the dictionary lookup and pruned scan are unchanged, so deep pagination
    never rescans more than the query's posting lists.

    Below ``LOCAL_MAX_POSTINGS`` (Σ df of the query terms) with driver-array
    tombstones, the query is served on the driver: exact scoring, no probe,
    and a local-relation result whose collect launches no Spark job."""
    r = open_index(spark, index_root)
    avgdl, k1, b = r.avgdl, r.k1, r.b
    # past DISTRIBUTED_TOMB_THRESHOLD deletes the set is shard-keyed and
    # cogrouped with the blocks instead of driver-collected
    tomb, tomb_shards = r.tombs()
    qterms = r.analyze(query, lang, synonyms, terms=analyzed_terms)
    if not qterms:
        return empty_scores(spark)

    dict_rows = r.lookup(qterms)
    if not dict_rows:
        return empty_scores(spark)
    idfs = {row["term"]: lucene_idf(r.n_docs, row["df"]) for row in dict_rows}
    buckets = sorted({row["bucket"] for row in dict_rows})
    present = sorted(idfs)
    total_postings = sum(row["df"] for row in dict_rows)
    shard_k = (1 << 62) if k is None else k
    if tomb_shards is None and total_postings < LOCAL_MAX_POSTINGS:
        # driver-local: exact scoring of every block (a θ probe cannot pay
        # for itself at this volume), zero Spark jobs
        return _local_topk(
            spark,
            r.local_blocks(present, buckets, _TOPK_COLUMNS),
            _shard_scorer(idfs, k1, b, float("-inf"), shard_k, avgdl, tomb, after),
            k,
        )

    blocks = r.blocks(present, buckets)

    theta = float("-inf")
    probe_df = None
    # Fast path: when the candidate posting volume (Σ df of the query terms, known
    # from the dictionary without touching postings) is small, the probe pass costs
    # more than it prunes — score everything in ONE distributed pass. Block-max
    # pruning pays off exactly when postings are large, which is when Σ df crosses
    # this bound; at 100 TB every stop-wordy query takes the probe path.
    # Calibration (round 4, local[32], 200k files): the probe is 3 Spark jobs
    # vs 1, and with the vectorized batch decode the exact pass costs ~0.6 s
    # even for stop-word queries at Σ df ≈ 3×10^5 — the probe only returns its
    # overhead once decode volume is millions of postings, hence 1<<22.
    if total_postings < probe_min_postings or after is not None:
        use_blockmax = False
    if k is None:
        # all-matches mode (sort-by-field callers): no θ to prune with
        use_blockmax = False
    if tomb_shards is not None:
        # distributed-tombstone mode: an unfiltered probe could include
        # deleted docs and yield a θ that is too HIGH (over-pruning live
        # blocks), and filtering the probe would need its own cogroup pass.
        # Mass-delete states are transient (compaction purges them) — take
        # the exact single-pass path.
        use_blockmax = False
    if use_blockmax:
        # probe the densest shard exactly; its kth score lower-bounds the global
        # kth. The argmax is computed distributed and only TWO rows reach the
        # driver (top-2 by posting count — the second row just tells us whether
        # more than one shard exists), never the full per-shard size list
        # (O(n_docs/shard_size) rows at scale — VERDICT r1 finding #5).
        shard_sizes = (
            blocks.groupBy("shard")
            .agg(F.sum("n").alias("pn"))
            .orderBy(F.desc("pn"), F.asc("shard"))
            .limit(2)
            .collect()
        )
        if len(shard_sizes) > 1:
            probe_shard = shard_sizes[0]["shard"]
            probe_df = (
                blocks.filter(F.col("shard") == probe_shard)
                .groupBy("shard")
                .applyInPandas(
                    # single-arg wrapper: the scorer's optional tomb_local
                    # would make applyInPandas dispatch (key, pdf)
                    _single(_shard_scorer(idfs, k1, b, float("-inf"), k, avgdl, tomb)),
                    _SCORE_SCHEMA,
                )
            )
            probe_rows = probe_df.collect()
            if len(probe_rows) >= k:
                theta = min(row["score"] for row in probe_rows)
            probe_df = spark.createDataFrame(probe_rows, _SCORE_SCHEMA)
            blocks = blocks.filter(F.col("shard") != probe_shard)

    scored = _apply_scorer(
        blocks,
        _shard_scorer(idfs, k1, b, theta, shard_k, avgdl, tomb, after),
        tomb_shards,
    )
    if probe_df is not None:
        scored = scored.unionByName(probe_df)
    out = scored.orderBy(F.desc("score"), F.asc("docid"))
    return out if k is None else out.limit(k)


def _batch_shard_scorer(
    query_terms: dict[str, list[str]],
    idfs: dict[str, float],
    k1: float,
    b: float,
    k: int,
    avgdl: float,
    tomb: np.ndarray | None = None,
):
    """applyInPandas per-shard scorer for a BATCH of queries. Each term's
    postings are decoded ONCE into (docid, contrib) arrays — a term's BM25
    contribution is query-independent — then each query just concatenates its
    terms' arrays and reduces (np.unique + bincount), emitting a per-shard
    top-k per query."""

    def score(
        pdf: pd.DataFrame, tomb_local: np.ndarray | None = None
    ) -> pd.DataFrame:
        tomb = tomb_local if tomb_local is not None else score.tomb_default
        empty = pd.DataFrame({"qid": [], "docid": [], "score": []})
        if len(pdf) == 0:
            return empty
        per_term: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        for term, gg in pdf.groupby("term", sort=False):
            # one batch decode per term (codec.decode_blocks_batch) — same
            # vectorization as the single-query scorer
            ns = gg["n"].to_numpy(dtype=np.int64)
            d64, t, l, _offs = decode_blocks_batch(
                gg["gaps"], gg["tfs"], gg["dls"],
                gg["first_docid"].to_numpy(), ns,
            )
            if d64.size == 0:
                continue
            tf = t.astype(np.float64)
            dl = l.astype(np.float64)
            contrib = bm25(idfs[term], tf, dl, avgdl, k1, b)
            if tomb is not None:
                keep = live_mask(tomb, d64)
                if keep is not None:
                    d64, contrib = d64[keep], contrib[keep]
                if d64.size == 0:
                    continue
            per_term[term] = (d64, contrib)
        frames = []
        for qid, terms in query_terms.items():
            present = [t for t in terms if t in per_term]
            if not present:
                continue
            docids = np.concatenate([per_term[t][0] for t in present])
            contribs = np.concatenate([per_term[t][1] for t in present])
            uniq, inv = np.unique(docids, return_inverse=True)
            scores = np.bincount(inv, weights=contribs)
            if uniq.size > k:
                order = np.lexsort((uniq, -scores))[:k]
            else:
                order = np.argsort(-scores, kind="stable")
            frames.append(
                pd.DataFrame(
                    {"qid": qid, "docid": uniq[order], "score": scores[order]}
                )
            )
        return pd.concat(frames, ignore_index=True) if frames else empty

    score.tomb_default = tomb
    return score


def topk_many(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    k: int = 10,
    *,
    lang: str | None = None,
    synonyms: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Batch top-k: (qid, docid, score) with a per-qid top-k, rank-identical to
    running :func:`topk` per query (use_blockmax=False path) — verified by
    pytest and the ``bm25_topk_batch`` contract oracle.

    The reference serves query batches through ES ``msearch``-style surfaces;
    here the batch amortizes the per-query job floor (~4 Spark jobs each:
    dictionary lookup, probe argmax, probe, final) down to TWO jobs for the
    whole batch: ONE dictionary lookup for the union of all query terms, ONE
    postings scan + scoring pass (each term decoded once, shared across the
    queries containing it), then a per-qid window top-k inside the same job.
    At 100 TB this is also the better plan: the postings scan touches the
    union of the terms once instead of re-launching per query."""
    r = open_index(spark, index_root)
    tomb, tomb_shards = r.tombs()
    query_terms = {qid: r.analyze(q, lang, synonyms) for qid, q in queries.items()}
    all_terms = sorted({t for ts in query_terms.values() for t in ts})
    out_schema = "qid string, docid long, score double"
    if not all_terms:
        return empty_scores(spark, out_schema)
    dict_rows = r.lookup(all_terms)
    if not dict_rows:
        return empty_scores(spark, out_schema)
    idfs = {row["term"]: lucene_idf(r.n_docs, row["df"]) for row in dict_rows}
    buckets = sorted({row["bucket"] for row in dict_rows})
    present = sorted(idfs)
    query_terms = {
        qid: [t for t in ts if t in idfs] for qid, ts in query_terms.items()
    }

    scored = _apply_scorer(
        r.blocks(present, buckets),
        _batch_shard_scorer(query_terms, idfs, r.k1, r.b, k, r.avgdl, tomb),
        tomb_shards,
        schema=out_schema,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docid"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def fuzzy_expansions(
    spark: SparkSession,
    vdir: str,
    t: str,
    *,
    fuzziness: int = 1,
    prefix_length: int = 1,
    max_expansions: int = 50,
    transpositions: bool = False,
) -> list[tuple[str, int, int, float]]:
    """Expand analyzed term ``t`` against the dictionary within ``fuzziness``
    edits: the shared JVM-side pruned expansion (prefix startswith range +
    length window + ``F.levenshtein`` in whole-stage codegen, top
    ``max_expansions`` by df like every Lucene multi-term rewrite). Returns
    ``(term, df, bucket, boost)`` rows where boost is the Lucene-style
    similarity damp ``1 - distance / max(len)``. Used by the standalone fuzzy
    query and by fuzzy clauses inside bool (ES ``match`` + ``fuzziness``).

    ``transpositions=True`` switches the distance to Damerau-Levenshtein (an
    adjacent swap counts as ONE edit — ES's default ``fuzzy_transpositions``;
    this engine defaults to classic Levenshtein, a documented divergence;
    unrestricted variant, matching DuckDB's ``damerau_levenshtein`` so the
    oracle replays it exactly). Spark has no built-in for it, so the exact
    distance runs in one Arrow stage over a candidate set pre-pruned JVM-side
    by ``levenshtein <= 2*fuzziness`` (sound: every Damerau edit is at most
    two Levenshtein edits, so ``lev <= 2*damerau``; the length window holds
    for both metrics)."""
    prefix = t[:prefix_length]
    cand = open_version(spark, vdir).dict_df()
    if prefix:
        cand = cand.filter(F.col("term").startswith(prefix))
    cand = cand.filter(
        (F.length("term") >= len(t) - fuzziness)
        & (F.length("term") <= len(t) + fuzziness)
    )
    if transpositions:

        @F.pandas_udf("integer")
        def _dl_udf(s):
            return s.map(lambda x: _damerau(x, t))

        cand = (
            cand.filter(
                F.levenshtein(F.col("term"), F.lit(t)) <= 2 * fuzziness
            )
            .withColumn("_d", _dl_udf(F.col("term")))
            .filter(F.col("_d") <= fuzziness)
        )
        dist = _damerau
    else:
        cand = cand.filter(F.levenshtein(F.col("term"), F.lit(t)) <= fuzziness)
        dist = _levenshtein
    rows = (
        cand.orderBy(F.desc("df"), F.asc("term")).limit(max_expansions).collect()
    )
    return [
        (
            r["term"],
            int(r["df"]),
            int(r["bucket"]),
            1.0 - dist(t, r["term"]) / max(len(t), len(r["term"])),
        )
        for r in rows
    ]


def fuzzy_topk(
    spark: SparkSession,
    index_root: str,
    term: str,
    k: int = 10,
    *,
    fuzziness: int = 1,
    prefix_length: int = 1,
    max_expansions: int = 50,
    transpositions: bool = False,
    lang: str | None = None,
) -> DataFrame:
    """ES ``fuzzy`` query: expand ``term`` against the dictionary within
    ``fuzziness`` edits, then rank the disjunction with each expansion's BM25
    contribution damped by the Lucene-style similarity boost
    ``1 - distance / max(len(term), len(expansion))`` (exact matches boost 1).
    ``transpositions=True`` uses Damerau-Levenshtein (ES's default semantics;
    this engine's default is classic Levenshtein — documented divergence).

    Expansion stays JVM-side and pruned: ``prefix_length`` (Lucene's default
    guard) becomes a ``startswith`` range over the term-sorted dict parquet
    (row-group pruning), a length-window pre-filter bounds the candidates,
    and ``F.levenshtein`` runs in whole-stage codegen — no Python, no full
    vocabulary materialized on the driver. ``max_expansions`` keeps the
    highest-df expansions, like every Lucene multi-term rewrite. Scoring
    reuses the ranked shard scorer with the boost folded into each
    expansion's idf (contribution is linear in idf)."""
    from es_indexer_spark.analysis.tokenizer import split_lang_marker

    r = open_index(spark, index_root)
    toks = tokenize_one(term, r.tokenizer, lang=lang)
    # the code chain appends a trailing lang:<x> marker — it is a FILTER term,
    # never the fuzzy source (a bare strip would silently drop the lang
    # filter, so a marked query routes through the bool engine's fuzzy clause
    # with the marker as required filter context; rank-identical to this path
    # on unmarked queries, pytest-pinned)
    toks, marker = split_lang_marker(toks)
    if len(toks) != 1:
        raise ValueError("fuzzy_topk takes a single analyzed term")
    if marker is not None:
        from es_indexer_spark.query.boolean import bool_query

        return bool_query(
            spark, index_root,
            must_fuzzy=[term], minimum_should_match=0,
            fuzziness=fuzziness, prefix_length=prefix_length,
            max_expansions=max_expansions, transpositions=transpositions,
            k=k, lang=lang,
        )
    t = toks[0]
    exp = fuzzy_expansions(
        spark, r.vdir, t,
        fuzziness=fuzziness, prefix_length=prefix_length,
        max_expansions=max_expansions, transpositions=transpositions,
    )
    if not exp:
        return empty_scores(spark)
    idfs = {
        term_: boost * lucene_idf(r.n_docs, df) for term_, df, _bkt, boost in exp
    }
    buckets = sorted({bkt for _t, _df, bkt, _b in exp})
    scored = r.blocks(sorted(idfs), buckets).groupBy("shard").applyInPandas(
        _single(_shard_scorer(
            idfs, r.k1, r.b, float("-inf"), k, r.avgdl, r.tomb_array()
        )),
        _SCORE_SCHEMA,
    )
    return scored.orderBy(F.desc("score"), F.asc("docid")).limit(k)


def _levenshtein(a: str, b: str) -> int:
    """Plain DP edit distance for the ≤max_expansions driver-side boosts."""
    if a == b:
        return 0
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _damerau(a: str, b: str) -> int:
    """Unrestricted Damerau-Levenshtein distance (adjacent transposition is
    ONE edit and the transposed pair may be edited again) — exactly DuckDB's
    ``damerau_levenshtein``, pytest-pinned against it, so every
    ``transpositions=True`` query stays oracle-replayable. Distinguishing
    case vs the restricted/OSA variant: ``ca -> abc`` is 2 here
    (ca -> ac -> abc), 3 under OSA."""
    if a == b:
        return 0
    la, lb = len(a), len(b)
    maxd = la + lb
    # d has a -1 guard row/col (the classic "distance with adjacent
    # transpositions" formulation); index shift of +1 throughout
    d = [[maxd] * (lb + 2) for _ in range(la + 2)]
    for i in range(la + 1):
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[1][j + 1] = j
    da: dict[str, int] = {}
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            k = da.get(b[j - 1], 0)
            l = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,
                d[i + 1][j] + 1,
                d[i][j + 1] + 1,
                d[k][l] + (i - k - 1) + 1 + (j - l - 1),
            )
        da[a[i - 1]] = i
    return d[la + 1][lb + 1]


_EXPLAIN_SCHEMA = (
    "term string, tf long, df long, doc_len long, idf double, contribution double"
)


def explain(
    spark: SparkSession,
    index_root: str,
    query: str,
    docid: int,
    *,
    lang: str | None = None,
    synonyms: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Lucene's ``_explain`` API: the per-term BM25 breakdown of ``docid``'s
    score for ``query`` — one row per matched term with the exact tf, df,
    idf, and contribution the ranked scorer uses (Σ contribution == the
    ``topk`` score). :func:`explain_many` for one doc: the postings scan is
    pruned to the doc's shard and block range, so explaining one doc reads
    a handful of blocks no matter the corpus size. Tombstoned docs explain
    to zero rows (they are gone from every read surface)."""
    return explain_many(
        spark, index_root, query, [docid], lang=lang, synonyms=synonyms
    ).drop("docid")


def explain_many(
    spark: SparkSession,
    index_root: str,
    query: str,
    docids: Sequence[int],
    *,
    lang: str | None = None,
    synonyms: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Batched ``_explain``: the per-term BM25 breakdown of EVERY requested
    docid's score for ``query`` in ONE job — the engine behind the search
    body's ``explain: true`` flag (ES attaches an explanation to each hit;
    issuing k single-doc ``_explain`` calls would be k jobs).

    Returns ``(docid, term, tf, df, doc_len, idf, contribution)`` with
    Σ contribution per docid == that doc's ``topk`` score (same float64
    expression). Rows only for live requested docs that match ≥1 term.

    Physical shape: one dictionary lookup, postings pruned to the query
    terms' buckets, the requested docids' shards, and a coarse block range; the exact per-doc match runs in one Arrow stage over
    those few blocks (requests are O(k), never corpus-sized)."""
    r = open_index(spark, index_root)
    ids = np.array(sorted({int(d) for d in docids}), dtype=np.int64)
    out_schema = "docid long, " + _EXPLAIN_SCHEMA
    m = live_mask(r.tomb_array(), ids)
    if m is not None:
        ids = ids[m]
    if ids.size == 0:
        return empty_scores(spark, out_schema)
    qterms = r.analyze(query, lang, synonyms)
    dict_rows = r.lookup(qterms)
    if not dict_rows:
        return empty_scores(spark, out_schema)
    idfs = {row["term"]: lucene_idf(r.n_docs, row["df"]) for row in dict_rows}
    dfs = {row["term"]: int(row["df"]) for row in dict_rows}
    buckets = sorted({row["bucket"] for row in dict_rows})
    shards = sorted({int(d) // r.shard_size for d in ids})
    id_list = ids.tolist()

    blocks = (
        r.blocks(sorted(idfs), buckets)
        .filter(
            F.col("shard").isin(shards)
            & (F.col("first_docid") <= int(ids.max()))
            & (F.col("last_docid") >= int(ids.min()))
        )
        .select("term", "gaps", "tfs", "dls", "first_docid")
    )

    def expl(it):
        want = np.array(id_list, dtype=np.int64)
        for pdf in it:
            ds, terms, tfl, dll = [], [], [], []
            for row in pdf.itertuples(index=False):
                d, t, l = decode_block(row.gaps, row.tfs, row.dls, row.first_docid)
                d64 = d.astype(np.int64)
                hit = np.nonzero(np.isin(d64, want))[0]
                for h in hit:
                    ds.append(int(d64[h]))
                    terms.append(row.term)
                    tfl.append(int(t[h]))
                    dll.append(int(l[h]))
            yield pd.DataFrame(
                {"docid": ds, "term": terms, "tf": tfl, "doc_len": dll}
            )

    rows = blocks.mapInPandas(
        expl, "docid long, term string, tf long, doc_len long"
    )
    dict_small = spark.createDataFrame(
        [(t, dfs[t], float(idfs[t])) for t in sorted(idfs)],
        "term string, df long, idf double",
    )
    tf, dl = F.col("tf").cast("double"), F.col("doc_len").cast("double")
    return (
        rows.join(F.broadcast(dict_small), "term")
        .withColumn("contribution", bm25(F.col("idf"), tf, dl, r.avgdl, r.k1, r.b))
        # a docid duplicated across blocks of one term (duplicate user id_col)
        # sums its postings, mirroring the canonical scorer's summation
        .groupBy("docid", "term", "df", "idf")
        .agg(
            F.sum("tf").alias("tf"),
            F.max("doc_len").alias("doc_len"),
            F.sum("contribution").alias("contribution"),
        )
        .select("docid", "term", "tf", "df", "doc_len", "idf", "contribution")
        .orderBy(F.asc("docid"), F.asc("term"))
    )


def fetch_docs(spark: SparkSession, index_root: str, topk_df: DataFrame) -> DataFrame:
    """Join the ≤k scored docids back to the doc table (broadcast the k-row side —
    SURVEY.md J6; the docid point-filter prunes parquet row groups because docs are
    written sorted by docid). Schema-preserving: extra columns on the hits side
    (e.g. ``qid`` from :func:`topk_many`) ride along, so the same fetch serves
    single-query and batch results."""
    docs = open_index(spark, index_root).docs()
    hits = topk_df.collect()
    if not hits:
        # keep the JOINED schema on an empty page — downstream field
        # selection (_source/fields) must resolve the doc columns either way
        return spark.createDataFrame([], topk_df.schema).join(
            docs, "docid", "left"
        )
    docs = docs.filter(F.col("docid").isin(sorted({r["docid"] for r in hits})))
    return spark.createDataFrame(hits, topk_df.schema).join(docs, "docid", "left")


def _keyset_after(levels: list, after_vals) -> "F.Column":
    """Strictly-after predicate for a multi-level sort with per-level
    direction and ES nulls-last semantics: a row is after the cursor iff at
    the FIRST level where they differ the row sorts later.

    Per level with cursor value ``v``:
    - ``v`` non-null: after = (col > v) asc / (col < v) desc, OR col IS NULL
      (nulls sort last in either direction); equal-continue = col == v;
    - ``v`` null: nothing sorts after null at this level — after = false,
      equal-continue = col IS NULL (ordering falls to the next level inside
      the null region)."""
    pred = F.lit(False)
    eq_chain = F.lit(True)
    for (name, desc_, nullable), v in zip(levels, after_vals):
        c = F.col(name)
        if v is None:
            after_e = F.lit(False)
            eq_e = c.isNull()
        else:
            cmp = (c < F.lit(v)) if desc_ else (c > F.lit(v))
            after_e = (cmp | c.isNull()) if nullable else cmp
            eq_e = c == F.lit(v)
        pred = pred | (eq_chain & after_e)
        eq_chain = eq_chain & eq_e
    return pred


def topk_sorted(
    spark: SparkSession,
    index_root: str,
    query: str,
    *,
    sort: list,
    k: int = 10,
    after: tuple | None = None,
    lang: str | None = None,
    matches: DataFrame | None = None,
) -> DataFrame:
    """ES sort-by-field ranked search: ``sort=[("field", "asc"|"desc"), ...,
    "_score"]`` — the reference's uuid-sorted scan shape
    (GeoNetworkServiceImpl.java:586-604) generalized to any stored field.

    ES semantics reproduced: with an explicit ``sort``, the top-k selection
    is BY THE SORT KEY over the full match set (not by score); scores are
    still computed and returned (track_scores), and missing field values
    sort LAST in either direction (ES ``missing: _last`` default). A
    trailing ``"_score"`` (or ``("_score", "desc")``) adds the score as a
    tie-break level; docid is always the final tie-break.

    Scale shape: the match set never touches the driver — one exact scoring
    pass over the query terms' postings (no block-max: under a field sort
    any match can win, so θ-pruning is unsound), a docid-keyed join against
    the docid-sorted docs store for the sort fields, then a global top-k
    that Spark executes as TakeOrderedAndProject (per-partition top-k +
    k-row merge — never a full sort materialization). Returns
    ``(docid, score, <sort fields>)``.

    ``after``: ES ``search_after`` on the sorted surface — the previous
    page's sort-key values, one per ``sort`` level plus the trailing docid
    (exactly the previous page's last returned row). Pages concatenate to a
    single larger-k result (pytest-pinned, incl. across a null region —
    nulls-last keyset semantics in :func:`_keyset_after`); the filter is a
    plain row predicate, so deep pagination re-sorts only rows strictly
    after the cursor and never offsets/rescans the pages before it."""
    orders = []
    fields: list[str] = []
    levels: list[tuple[str, bool, bool]] = []
    for s in sort:
        name, direction = (s, "desc") if isinstance(s, str) else (s[0], s[1])
        desc_ = str(direction).lower() != "asc"
        if name == "_score":
            orders.append(F.desc("score") if desc_ else F.asc("score"))
            levels.append(("score", desc_, False))
        else:
            fields.append(name)
            orders.append(
                F.desc_nulls_last(name) if desc_ else F.asc_nulls_last(name)
            )
            levels.append((name, desc_, True))
    orders.append(F.asc("docid"))
    levels.append(("docid", False, False))
    if matches is None:
        matches = topk(spark, index_root, query, k=None, lang=lang)
    else:
        # caller-provided FULL match set (any k=None-capable query — the DSL
        # sort section feeds bool/phrase/term-filter matches through here);
        # only (docid, score) ride into the sort join
        matches = matches.select("docid", "score")
    docs = open_index(spark, index_root).docs().select(
        "docid", *dict.fromkeys(fields)
    )
    joined = matches.join(docs, "docid")
    if after is not None:
        if len(after) != len(levels):
            raise ValueError(
                f"after needs {len(levels)} values (one per sort level + "
                f"docid), got {len(after)}"
            )
        joined = joined.filter(_keyset_after(levels, after))
    return joined.orderBy(*orders).limit(k)


def more_like_this(
    spark: SparkSession,
    index_root: str,
    like_text: str,
    k: int = 10,
    *,
    max_query_terms: int = 25,
    min_term_freq: int = 2,
    min_doc_freq: int = 5,
    use_blockmax: bool = True,
    lang: str | None = None,
) -> DataFrame:
    """ES ``more_like_this`` with ``like`` given as text (ES accepts raw text
    or document ids; for an id, pass the stored source text). Public
    Lucene/ES semantics:

    1. analyze the like-text with the index's chain and count term freqs;
    2. keep terms with ``tf >= min_term_freq`` and corpus
       ``df >= min_doc_freq`` (ES defaults 2 and 5);
    3. rank candidate terms by classic-TFIDF interestingness
       ``tf * (ln(n_docs / (df + 1)) + 1)`` and keep the top
       ``max_query_terms`` (ES default 25);
    4. run the selected terms as a pure-should disjunction through the
       ranked BM25 engine — scoring, block-max pruning, tombstones and
       pagination come from the one scorer.

    Term selection is a driver-side computation over ≤|like-text| dictionary
    rows (the same ≤|q|-row lookup every query path does); the data-path
    work is exactly one ranked query."""
    import math

    r = open_index(spark, index_root)
    n_docs = r.n_docs
    tf: dict[str, int] = {}
    for t in tokenize_one(like_text, r.tokenizer, lang=lang):
        tf[t] = tf.get(t, 0) + 1
    uniq = sorted(tf)
    dfs = {row["term"]: int(row["df"]) for row in r.lookup(uniq)}
    cands = [
        (t, tf[t], dfs[t])
        for t in uniq
        if tf[t] >= min_term_freq and dfs.get(t, 0) >= min_doc_freq
    ]
    if not cands:
        return empty_scores(spark)
    cands.sort(key=lambda c: (-c[1] * (math.log(n_docs / (c[2] + 1)) + 1.0), c[0]))
    sel = sorted(t for t, _, _ in cands[:max_query_terms])
    # the selection is already dictionary terms — score them directly; a
    # re-analysis round-trip is not an identity for the code chain (it would
    # re-split some dictionary terms and score a different set)
    return topk(
        spark, index_root, " ".join(sel), k=k, use_blockmax=use_blockmax,
        lang=lang, analyzed_terms=sel,
    )


def rescore_phrase(
    spark: SparkSession,
    index_root: str,
    query: str | DataFrame,
    phrase: str,
    k: int = 10,
    *,
    window_size: int = 50,
    query_weight: float = 1.0,
    rescore_query_weight: float = 1.0,
    slop: int = 0,
    lang: str | None = None,
) -> DataFrame:
    """ES ``rescore`` with a match_phrase rescorer (score_mode=total, the ES
    default): take the top ``window_size`` hits of the ranked query, add the
    phrase query's score for those that contain the phrase, and re-rank —
    ``query_weight * original + rescore_query_weight * phrase`` (docs in the
    window without the phrase keep their weighted original score).

    Execution, window-pruned like ES's rescorer (which only re-scores the
    coordinator's window): the window is one ranked query (block-max pruned,
    rank-safe) whose ≤window_size rows come back to the driver — the same
    role ES's coordinator plays; the phrase pass then reads ONLY the shards
    containing window docs (shard-pruned postings scan, never the corpus)
    and keeps only window docids; the combine broadcast-joins that
    ≤window_size-row phrase side, so no shuffle is added."""
    from es_indexer_spark.query.phrase import phrase_match

    shard_size = open_index(spark, index_root).shard_size
    # a DataFrame query is a pre-scored (docid, score) frame — the DSL's
    # composed-sub-query seam; the window cut is the same top-window_size
    if isinstance(query, DataFrame):
        base_rows = (
            query.select("docid", "score")
            .orderBy(F.desc("score"), F.asc("docid"))
            .limit(window_size)
            .collect()
        )
    else:
        base_rows = topk(
            spark, index_root, query, k=window_size, lang=lang
        ).collect()
    if not base_rows:
        return empty_scores(spark)
    ids = [int(r["docid"]) for r in base_rows]
    shards = sorted({i // shard_size for i in ids})
    ph = (
        phrase_match(spark, index_root, phrase, k=None, lang=lang,
                     slop=int(slop), shards=shards)
        .filter(F.col("docid").isin(ids))
        .select("docid", F.col("score").alias("_ph"))
    )
    base = spark.createDataFrame(
        [(i, float(r["score"])) for i, r in zip(ids, base_rows)], _SCORE_SCHEMA
    )
    out = base.join(F.broadcast(ph), "docid", "left").select(
        "docid",
        (
            F.lit(float(query_weight)) * F.col("score")
            + F.lit(float(rescore_query_weight)) * F.coalesce(F.col("_ph"), F.lit(0.0))
        ).alias("score"),
    )
    return out.orderBy(F.desc("score"), F.asc("docid")).limit(k)


def collapse_topk(
    spark: SparkSession,
    index_root: str,
    query: str | DataFrame,
    collapse_field: str,
    k: int = 10,
    *,
    lang: str | None = None,
    inner_hits: int = 0,
) -> DataFrame:
    """ES ``collapse``: the ranked search result reduced to the single best
    hit per distinct value of a stored field (the portal's dedupe-by-source
    result shape), ranked by score. Returns (docid, <field>, score).

    ``inner_hits > 0`` = ES's collapse ``inner_hits`` section, flattened:
    for each of the top-``k`` group WINNERS, up to ``inner_hits`` further
    hits of that group ride along with a ``hit_rank`` column (1 = the
    winner, ES includes it in the expanded view too); rows order by the
    winner's score desc, then group, then ``hit_rank``. The group set is
    ``k`` rows, so it broadcast-joins back into the ranked frame — the
    expansion never re-scores or re-scans.

    Execution: the pure-should bool evaluation (≡ the ranked engine,
    pytest-pinned) produces every match WITHOUT a global sort (k=None), the
    docs-store join attaches the collapse key, and one rank window
    partitioned by the key keeps the best hit per group — per-group top-1,
    never a global materialization of the full ranking. Scores are rounded
    to 6 decimals before ranking so group winners are ulp-stable across
    summation orders; ties break by docid asc."""
    from es_indexer_spark.query.boolean import bool_query
    from pyspark.sql import Window

    # a DataFrame query is a pre-scored (docid, score) match frame — the
    # DSL's composed-sub-query seam (any bool-expressible query collapses)
    hits = (
        query.select("docid", "score") if isinstance(query, DataFrame)
        else bool_query(spark, index_root, should=[query], k=None, lang=lang)
    )
    docs = open_index(spark, index_root).docs().select("docid", collapse_field)
    j = hits.join(docs, "docid").withColumn("score", F.round("score", 6))
    w = Window.partitionBy(collapse_field).orderBy(
        F.desc("score"), F.asc("docid")
    )
    ranked = j.withColumn("_rn", F.row_number().over(w))
    winners = (
        ranked.filter(F.col("_rn") == 1)
        .drop("_rn")
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(k)
    )
    if inner_hits <= 0:
        return winners
    groups = winners.select(
        F.col(collapse_field),
        F.col("score").alias("__gscore"),
    )
    return (
        ranked.filter(F.col("_rn") <= int(inner_hits) + 1)
        .withColumnRenamed("_rn", "hit_rank")
        .join(F.broadcast(groups), collapse_field)
        .orderBy(
            F.desc("__gscore"), F.asc(collapse_field), F.asc("hit_rank")
        )
        .select("docid", collapse_field, "score", "hit_rank")
    )


_FVF_MODIFIERS = ("none", "ln1p", "log1p", "sqrt", "square")


def function_score_topk(
    spark: SparkSession,
    index_root: str,
    query: str | DataFrame,
    field: str,
    k: int = 10,
    *,
    factor: float = 1.0,
    modifier: str = "ln1p",
    boost_mode: str = "multiply",
    missing: float = 1.0,
    lang: str | None = None,
) -> DataFrame:
    """ES ``function_score`` with a ``field_value_factor`` function: rescale
    every match's BM25 score by a function of a stored numeric field —
    ``modifier(factor * field)`` with the published ES modifiers (ln1p =
    ln(1+x), log1p = log10(1+x), sqrt, square, none), combined by
    ``boost_mode`` multiply (default) or sum; ``missing`` substitutes for
    null field values, as in ES.

    The factor reorders matches arbitrarily, so like ES this evaluates every
    match (k=None bool disjunction — no global sort), joins the stored field
    from the docs store, and takes the top-k of the combined score (rounded
    at 6 for ulp-stable ordering, ties by docid)."""
    from es_indexer_spark.query.boolean import bool_query

    if modifier not in _FVF_MODIFIERS:
        raise ValueError(f"modifier must be one of {_FVF_MODIFIERS}")
    if boost_mode not in ("multiply", "sum"):
        raise ValueError("boost_mode must be 'multiply' or 'sum'")
    # a DataFrame query is a pre-scored (docid, score) match frame — the
    # DSL's composed-sub-query seam (round 5h)
    hits = (
        query.select("docid", "score") if isinstance(query, DataFrame)
        else bool_query(spark, index_root, should=[query], k=None, lang=lang)
    )
    docs = open_index(spark, index_root).docs().select("docid", field)
    x = F.coalesce(F.col(field).cast("double"), F.lit(float(missing))) * F.lit(
        float(factor)
    )
    fv = {
        "none": x,
        "ln1p": F.log(F.lit(1.0) + x),
        "log1p": F.log10(F.lit(1.0) + x),
        "sqrt": F.sqrt(x),
        "square": x * x,
    }[modifier]
    combined = (
        F.col("score") * fv if boost_mode == "multiply" else F.col("score") + fv
    )
    return (
        hits.join(docs, "docid")
        .select("docid", F.round(combined, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(k)
    )


def script_score_topk(
    spark: SparkSession,
    index_root: str,
    query: str | DataFrame,
    script: str,
    k: int = 10,
    *,
    fields: Sequence[str] = (),
    min_score: float | None = None,
    lang: str | None = None,
) -> DataFrame:
    """ES ``script_score``: REPLACE every match's BM25 score with a script
    over ``_score`` and stored doc fields. The Painless script slot takes a
    Catalyst SQL expression here (documented divergence: same role,
    deterministic, evaluated inside whole-stage codegen instead of a JVM
    scripting sandbox) — e.g. ``"_score * sqrt(n_chars)"`` or
    ``"1.0 / (1.0 + exp(-_score))"``. ``fields`` lists the stored doc
    columns the expression reads (column-pruned docs-store scan, joined only
    when non-empty). ``min_score`` drops rescored matches below the bound
    (the ES knob). Like function_score, the script reorders matches
    arbitrarily, so every match is evaluated (k=None disjunction) and the
    global top-k of the rescored set is taken; rounded at 6 for ulp-stable
    ordering, ties by docid."""
    from es_indexer_spark.query.boolean import bool_query

    hits = (
        query.select("docid", "score") if isinstance(query, DataFrame)
        else bool_query(spark, index_root, should=[query], k=None, lang=lang)
    )
    sel = hits.withColumnRenamed("score", "_score")
    if fields:
        docs = open_index(spark, index_root).docs().select("docid", *fields)
        sel = sel.join(docs, "docid")
    out = sel.select(
        "docid", F.round(F.expr(script).cast("double"), 6).alias("score")
    )
    if min_score is not None:
        out = out.filter(F.col("score") >= float(min_score))
    return out.orderBy(F.desc("score"), F.asc("docid")).limit(k)


_RANK_FEATURE_FNS = ("saturation", "log", "sigmoid")


def rank_feature_topk(
    spark: SparkSession,
    index_root: str,
    query: str,
    field: str,
    k: int = 10,
    *,
    function: str = "saturation",
    pivot: float | None = None,
    scaling_factor: float = 1.0,
    exponent: float = 1.0,
    boost: float = 1.0,
    lang: str | None = None,
) -> DataFrame:
    """ES ``rank_feature`` query combined with a text query in a bool should
    (the published usage shape): final score = BM25(query) + boost * S(x)
    where x is a stored numeric feature and S is one of ES's three rank
    functions — ``saturation`` x/(x+pivot), ``log`` ln(scaling_factor + x),
    ``sigmoid`` x^e/(x^e + pivot^e). When ``pivot`` is omitted for
    saturation, ES defaults to the *approximate* geometric mean of the
    feature; this computes the exact geometric mean exp(avg(ln x)) from the
    live docs store (documented divergence: exact, not sketched).

    Like ``function_score_topk``, the feature reorders matches arbitrarily,
    so every match is scored (k=None disjunction), the feature joins from
    the docs store, and the combined score (rounded at 6 for ulp-stable
    ordering) is top-k'd with docid ties ascending."""
    from es_indexer_spark.query.boolean import bool_query

    if function not in _RANK_FEATURE_FNS:
        raise ValueError(f"function must be one of {_RANK_FEATURE_FNS}")
    docs = open_index(spark, index_root).docs().select("docid", field)
    if function in ("saturation", "sigmoid") and pivot is None:
        pivot = docs.agg(
            F.exp(F.avg(F.log(F.col(field).cast("double"))))
        ).collect()[0][0]
    x = F.col(field).cast("double")
    s = {
        "saturation": x / (x + F.lit(float(pivot or 0.0))),
        "log": F.log(F.lit(float(scaling_factor)) + x),
        "sigmoid": F.pow(x, float(exponent))
        / (F.pow(x, float(exponent)) + F.lit(float(pivot or 0.0)) ** float(exponent)),
    }[function]
    hits = bool_query(spark, index_root, should=[query], k=None, lang=lang)
    combined = F.col("score") + F.lit(float(boost)) * s
    return (
        hits.join(docs, "docid")
        .select("docid", F.round(combined, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(k)
    )


def distance_feature_topk(
    spark: SparkSession,
    index_root: str,
    query: str,
    field: str,
    origin: float,
    pivot: float,
    k: int = 10,
    *,
    boost: float = 1.0,
    lang: str | None = None,
) -> DataFrame:
    """ES ``distance_feature`` query in a bool should: final score =
    BM25(query) + boost * pivot / (pivot + |x - origin|) — ES's exact decay
    form for date distances (milliseconds from origin); here over any stored
    numeric/date-epoch field. Scored like ``rank_feature_topk``: all
    matches, store join, round-6 top-k."""
    from es_indexer_spark.query.boolean import bool_query

    if not pivot > 0:
        raise ValueError("pivot must be > 0")
    docs = open_index(spark, index_root).docs().select("docid", field)
    dist = F.abs(F.col(field).cast("double") - F.lit(float(origin)))
    contrib = F.lit(float(boost)) * F.lit(float(pivot)) / (F.lit(float(pivot)) + dist)
    hits = bool_query(spark, index_root, should=[query], k=None, lang=lang)
    return (
        hits.join(docs, "docid")
        .select("docid", F.round(F.col("score") + contrib, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(k)
    )


def pinned_topk(
    spark: SparkSession,
    index_root: str,
    ids: Sequence[int],
    organic: str | DataFrame,
    k: int = 10,
    *,
    lang: str | None = None,
) -> DataFrame:
    """ES ``pinned`` query: the given docids rank first IN THE GIVEN ORDER
    (whether or not they match), then the organic query's matches by BM25
    score, with pinned docs removed from the organic stream. ES implements
    the pins as descending constant scores above any realistic BM25 value;
    same here (1e9 - position). Pins that don't exist in the index (or are
    tombstoned) are dropped, as in ES. The pin list is request-sized (ES
    caps pinned ids at 100), so the driver-side literal is O(|pins|)."""
    from es_indexer_spark.query.boolean import bool_query
    from es_indexer_spark.query.lookup import doc_lookup

    ids = [int(d) for d in ids]
    if len(ids) > 100:
        raise ValueError("pinned supports at most 100 ids (the ES cap)")
    live_pins = doc_lookup(spark, index_root, ids).select("docid")
    rank = F.array_position(
        F.array(*[F.lit(d) for d in ids]), F.col("docid")
    ).cast("double")
    pins = live_pins.select(
        "docid", (F.lit(1e9) - rank + 1).alias("score")
    )
    org_hits = (
        organic.select("docid", "score") if isinstance(organic, DataFrame)
        else bool_query(spark, index_root, should=[organic], k=None, lang=lang)
    )
    org = (
        org_hits
        .filter(~F.col("docid").isin(ids))
        .select("docid", F.round("score", 6).alias("score"))
    )
    return (
        pins.unionByName(org)
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(k)
    )
