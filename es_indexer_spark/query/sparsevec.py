"""ES ``sparse_vector`` / ``text_expansion`` query over the inverted index.

ES 8's learned-sparse retrieval (ELSER-style) stores per-document
``token -> weight`` maps in the inverted index (``rank_features`` /
``sparse_vector`` fields) and scores a query's weighted tokens by the dot
product Σ query_weight(t) × stored_weight(t, doc) — a linear impact sum,
not BM25 saturation. This engine's index stores the term frequency as each
posting's impact, so the stored weight IS ``tf`` (the text_expansion analog
over a plain text field); the query side takes an arbitrary
``{token: weight}`` map from whatever expansion model produced it.

Execution shape (same scale story as :func:`query.engine.topk`): one
dictionary point-lookup for the |q| tokens (memoized, zero Spark jobs when
warm), ONE term-pruned postings scan, per-shard vectorized decode + weighted
``bincount`` in an Arrow stage, distributed top-k merge. Tombstones flow
through the same index-reader tombstone seam as the ranked path (driver array below
the threshold, shard-keyed cogroup above it).

Query-token pruning reproduces ES's documented ``pruning_config`` rule
(``tokens_freq_ratio_threshold`` / ``tokens_weight_threshold``): a token is
pruned iff its document frequency exceeds ``ratio × mean df of the query's
tokens`` AND its weight is below ``threshold × max query weight`` — both
conditions, exactly as published. Pruning reads only the dictionary (df is
free), never the postings, so a pruned stop-token costs nothing.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from es_indexer_spark.index.reader import open_index
from es_indexer_spark.query.engine import _apply_scorer, empty_scores


def _sparse_scorer(weights: dict[str, float], k: int, tomb, after=None):
    """Per-shard weighted-impact scorer: score(d) = Σ_t w_t · tf(t, d)."""
    from es_indexer_spark.index.codec import decode_blocks_batch
    from es_indexer_spark.index.tombstones import live_mask

    def score(pdf: pd.DataFrame, tomb_local=None) -> pd.DataFrame:
        tmb = tomb_local if tomb_local is not None else score.tomb_default
        if len(pdf) == 0:
            return pd.DataFrame({"docid": [], "score": []})
        ns = pdf["n"].to_numpy(dtype=np.int64)
        docids, t, _l, _offs = decode_blocks_batch(
            pdf["gaps"], pdf["tfs"], pdf["dls"],
            pdf["first_docid"].to_numpy(), ns,
        )
        if docids.size == 0:
            return pd.DataFrame({"docid": [], "score": []})
        w_per = np.repeat(
            pdf["term"].map(weights).to_numpy(dtype=np.float64), ns
        )
        contribs = w_per * t.astype(np.float64)
        if tmb is not None:
            keep = live_mask(tmb, docids)
            if keep is not None:
                docids, contribs = docids[keep], contribs[keep]
            if docids.size == 0:
                return pd.DataFrame({"docid": [], "score": []})
        # canonical summation order -> bit-identical scores across jobs
        # (same reasoning as _shard_scorer; the after-cursor == leg needs it)
        order = np.lexsort((contribs, docids))
        docids, contribs = docids[order], contribs[order]
        uniq, inv = np.unique(docids, return_inverse=True)
        scores = np.bincount(inv, weights=contribs)
        if after is not None:
            s_a, d_a = after
            keep = (scores < s_a) | ((scores == s_a) & (uniq > d_a))
            uniq, scores = uniq[keep], scores[keep]
            if uniq.size == 0:
                return pd.DataFrame({"docid": [], "score": []})
        if uniq.size > k:
            order = np.lexsort((uniq, -scores))[:k]
        else:
            order = np.argsort(-scores, kind="stable")
        return pd.DataFrame({"docid": uniq[order], "score": scores[order]})

    score.tomb_default = tomb
    return score


def prune_tokens(
    weights: dict[str, float],
    dfs: dict[str, float],
    *,
    tokens_freq_ratio_threshold: float = 5.0,
    tokens_weight_threshold: float = 0.4,
) -> dict[str, float]:
    """ES ``pruning_config``: drop a token iff df > ratio × mean df AND
    weight < threshold × max weight (both, per the ES docs). Returns the
    surviving ``{token: weight}``."""
    present = {t: w for t, w in weights.items() if t in dfs}
    if not present:
        return present
    mean_df = sum(dfs[t] for t in present) / len(present)
    max_w = max(abs(w) for w in present.values())
    return {
        t: w
        for t, w in present.items()
        if not (
            dfs[t] > tokens_freq_ratio_threshold * mean_df
            and abs(w) < tokens_weight_threshold * max_w
        )
    }


def sparse_vector_topk(
    spark: SparkSession,
    index_root: str,
    weights: dict[str, float],
    k: int | None = 10,
    *,
    prune: bool = False,
    tokens_freq_ratio_threshold: float = 5.0,
    tokens_weight_threshold: float = 0.4,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """Top-k ``(docid, score)`` by the weighted impact sum
    Σ query_weight(t) × tf(t, doc). ``weights`` maps ANALYZED tokens (the
    expansion model's output) to weights; unknown tokens cost one memoized
    dictionary miss each and contribute nothing, like ES. ``k=None``
    returns every match distributed (filter/hybrid composition)."""
    if not weights:
        return empty_scores(spark)
    r = open_index(spark, index_root)
    tomb, tomb_shards = r.tombs()
    dict_rows = r.lookup(sorted(weights))
    if not dict_rows:
        return empty_scores(spark)
    dfs = {row["term"]: float(row["df"]) for row in dict_rows}
    wts = {t: float(w) for t, w in weights.items() if t in dfs}
    if prune:
        wts = prune_tokens(
            wts, dfs,
            tokens_freq_ratio_threshold=tokens_freq_ratio_threshold,
            tokens_weight_threshold=tokens_weight_threshold,
        )
    if not wts:
        return empty_scores(spark)
    buckets = sorted({row["bucket"] for row in dict_rows if row["term"] in wts})
    shard_k = (1 << 62) if k is None else k
    scored = _apply_scorer(
        r.blocks(sorted(wts), buckets),
        _sparse_scorer(wts, shard_k, tomb, after),
        tomb_shards,
    )
    out = scored.orderBy(F.desc("score"), F.asc("docid"))
    return out if k is None else out.limit(k)
