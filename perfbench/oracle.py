"""Brute-force BM25 reference for every result the benchmark times.

The model holds every document the engine was ever given, dead copies
included, because the engine keeps Lucene live-docs semantics: a superseded
or deleted document still counts in N, avgdl and df until compaction, and is
only hidden from results. Each document records the epoch (number of bulks
applied) in which it was born and died, so a result can be checked against
the exact index state it was served from, after the timed window.

Scoring is recomputed per document from its token counts (no inverted
index), with k1 = 1.2 and b = 0.75, the values the benchmark builds with.
Results are compared tie-aware: ranks must agree on score to ``TOL``; a
returned document must be a live match with the oracle's score; every
document that outranks the k-th score must be there.
"""

from __future__ import annotations

import math
from collections import Counter
from dataclasses import dataclass

K1, B = 1.2, 0.75
TOL = 1e-6


@dataclass
class Doc:
    ext_id: int
    repo: str
    tf: Counter
    dl: int
    nbytes: int
    born: int
    died: int | None = None

    def live_at(self, epoch: int) -> bool:
        return self.born <= epoch and (self.died is None or self.died > epoch)


class Model:
    def __init__(self, tokenize):
        self.tokenize = tokenize
        self.docs: list[Doc] = []
        self.live: dict[int, Doc] = {}
        self.epoch = 0
        self._stats: dict[int, tuple[int, float]] = {}
        self._df: dict[tuple[int, str], int] = {}

    def add(self, ext_id: int, repo: str, content: str) -> None:
        toks = self.tokenize(content)
        old = self.live.pop(ext_id, None)
        if old is not None:
            old.died = self.epoch
        d = Doc(ext_id, repo, Counter(toks), len(toks), len(content.encode()),
                self.epoch)
        self.docs.append(d)
        self.live[ext_id] = d

    def delete(self, ext_id: int) -> None:
        self.live.pop(ext_id).died = self.epoch

    def apply_bulk(self, upserts: list[dict], deletes: list[int]) -> None:
        """One ``_bulk`` request: a new epoch in which ``upserts`` replace
        or add documents and ``deletes`` die."""
        self.epoch += 1
        for d in upserts:
            self.add(d["doc_id"], d["repo"], d["content"])
        for i in deletes:
            self.delete(i)

    # ---- statistics at an epoch --------------------------------------------

    def _physical(self, epoch: int):
        return (d for d in self.docs if d.born <= epoch)

    def stats(self, epoch: int) -> tuple[int, float]:
        if epoch not in self._stats:
            dls = [d.dl for d in self._physical(epoch)]
            self._stats[epoch] = (len(dls), sum(dls) / len(dls))
        return self._stats[epoch]

    def df(self, epoch: int, term: str) -> int:
        key = (epoch, term)
        if key not in self._df:
            self._df[key] = sum(1 for d in self._physical(epoch) if term in d.tf)
        return self._df[key]

    def idf(self, epoch: int, term: str) -> float:
        n, _ = self.stats(epoch)
        df = self.df(epoch, term)
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    def term_score(self, epoch: int, d: Doc, term: str) -> float:
        tf = d.tf.get(term, 0)
        if not tf:
            return 0.0
        _, avgdl = self.stats(epoch)
        return self.idf(epoch, term) * tf * (K1 + 1.0) / (
            tf + K1 * (1.0 - B + B * d.dl / avgdl))

    # ---- queries ------------------------------------------------------------

    def match(self, epoch: int, text: str) -> dict[int, float]:
        """``topk`` / ES ``match`` (operator OR): the analysed terms, each
        counted once, summed over the live documents containing any."""
        terms = sorted(set(self.tokenize(text)))
        out = {}
        for d in self.docs:
            if d.live_at(epoch) and any(t in d.tf for t in terms):
                out[d.ext_id] = sum(self.term_score(epoch, d, t) for t in terms)
        return out

    def bool(self, epoch: int, node: dict) -> dict[int, float]:
        """ES ``bool`` semantics for the benchmark's bodies: single-word
        ``match`` clauses; must all match; should is optional next to a
        must (minimum_should_match 0), otherwise one must match; must_not
        excludes; a ``range`` filter on a keyword field restricts without
        scoring. The score sums the matching must and should clauses."""
        def words(clauses):
            return [self.tokenize(next(iter(c["match"].values())))[0]
                    for c in clauses]

        must, should = words(node.get("must", [])), words(node.get("should", []))
        must_not = words(node.get("must_not", []))
        ranges = [next(iter(f["range"].items())) for f in node.get("filter", [])]
        msm = 0 if must else 1
        out = {}
        for d in self.docs:
            if not d.live_at(epoch):
                continue
            if not all(t in d.tf for t in must):
                continue
            if sum(1 for t in should if t in d.tf) < msm:
                continue
            if any(t in d.tf for t in must_not):
                continue
            if not all(_in_range(getattr(d, f), r) for f, r in ranges):
                continue
            out[d.ext_id] = sum(self.term_score(epoch, d, t)
                                for t in must + should)
        return out

    def body(self, epoch: int, body: dict) -> dict[int, float]:
        kind, spec = next(iter(body["query"].items()))
        if kind == "match":
            return self.match(epoch, next(iter(spec.values())))
        if kind == "bool":
            return self.bool(epoch, spec)
        raise ValueError(f"oracle has no model for query kind {kind!r}")


def _in_range(v, r: dict) -> bool:
    return (("gte" not in r or v >= r["gte"]) and ("gt" not in r or v > r["gt"])
            and ("lte" not in r or v <= r["lte"]) and ("lt" not in r or v < r["lt"]))


def compare(got: list[tuple[int, float]], expected: dict[int, float],
            k: int) -> str | None:
    """``None`` when ``got`` (external id, score) is a correct top-``k`` of
    ``expected``; otherwise a one-line reason."""
    ranked = sorted(expected.values(), reverse=True)[:k]
    if len(got) != len(ranked):
        return f"{len(got)} hits, expected {len(ranked)}"
    seen = set()
    for i, (doc, score) in enumerate(got):
        if doc in seen:
            return f"doc {doc} returned twice"
        seen.add(doc)
        if doc not in expected:
            return f"doc {doc} is not a live match"
        if abs(expected[doc] - score) > TOL:
            return f"doc {doc} scored {score!r}, expected {expected[doc]!r}"
        if abs(ranked[i] - score) > TOL:
            return f"rank {i} scored {score!r}, expected {ranked[i]!r}"
    if ranked:
        floor = ranked[-1] + TOL
        missing = [d for d, s in expected.items() if s > floor and d not in seen]
        if missing:
            return f"docs {missing[:3]} outrank the k-th hit but are missing"
    return None
