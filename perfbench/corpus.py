"""Seeded generator for the benchmark's inputs: a ``code_files`` corpus with a
long-tailed vocabulary, ranked query strings, bulk NDJSON batches and DSL
request bodies.

Everything derives from one ``numpy`` generator seeded by ``--seed``, so the
same seed gives byte-identical inputs. The engine only ever receives what
this module returns: the parquet file, query strings, bulk lines and bodies.

Vocabulary shape. Identifiers follow a Zipf law over ``VOCAB`` generated
words, so a handful of head words sit in most files while most words occur
once or twice (the low-df band that selective queries draw from). Every line
opens with a stop token (``def``, ``return`` ...) in nearly every file, and
every file carries one marker word unique to its external ``doc_id``; the
marker makes read-your-writes checkable after a bulk.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np

STOPS = ("def", "return", "import", "self", "class", "if", "for", "in")
LANGS = ("python", "java", "js", "go", "rust", "md")
LANG_P = np.array([30, 25, 20, 10, 10, 5], dtype=np.float64) / 100.0
_SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"] + [
    c + v + "x" for c in "bdgkt" for v in "aeiou"
]
VOCAB = 60_000
ZIPF_S = 1.07


def _words(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct pronounceable lowercase words. The word of rank ``i``
    has ``3 + i % 2`` syllables, so corpus byte sizes do not swing with the
    seed. Words hold no digits and cannot collide with a marker."""
    syl = np.asarray(_SYLLABLES, dtype=object)
    ks = 3 + np.arange(n) % 2
    words = [""] * n
    seen = set(STOPS)
    todo = np.arange(n)
    while todo.size:
        picks = rng.integers(0, len(syl), size=(todo.size, 4))
        again = []
        for i, row in zip(todo, picks):
            w = "".join(syl[row[: ks[i]]])
            if w in seen:
                again.append(i)
            else:
                seen.add(w)
                words[i] = w
        todo = np.asarray(again, dtype=np.int64)
    return words


def marker(doc_id: int) -> str:
    return f"mk{doc_id}"


@dataclass
class Corpus:
    """The generated files plus the generator state that later streams
    (bulk batches) continue from."""

    rng: np.random.Generator
    vocab: list[str]
    cdf: np.ndarray
    repos: list[str]
    next_id: int
    rows: list[dict]

    def new_doc(self, doc_id: int) -> dict:
        rng = self.rng
        lang = LANGS[int(rng.choice(len(LANGS), p=LANG_P))]
        repo = self.repos[int(rng.integers(0, len(self.repos)))]
        path = f"src/m{int(rng.integers(0, 40))}/f{doc_id}.{lang[:2]}"
        n_lines = int(np.clip(rng.lognormal(2.4, 0.6), 3, 60))
        lines = [f"# {marker(doc_id)} {path}"]
        sizes = rng.integers(2, 7, size=n_lines)
        ids = np.searchsorted(self.cdf, rng.random(int(sizes.sum())), side="right")
        stops = rng.integers(0, len(STOPS), size=n_lines)
        pos = 0
        for ln, sz in enumerate(sizes):
            ws = [self.vocab[j] for j in ids[pos : pos + sz]]
            pos += sz
            # identifiers are snake_case pairs half the time: the standard
            # analyzer splits them back into their words
            if sz >= 3 and ln % 2 == 0:
                ws = [f"{ws[0]}_{ws[1]}", *ws[2:]]
            lines.append(f"{STOPS[stops[ln]]} " + " ".join(ws))
        content = "\n".join(lines)
        commit = f"{int(rng.integers(0, 2**62)):016x}"
        return {"doc_id": doc_id, "repo": repo, "path": path, "commit": commit,
                "lang": lang, "content": content}


def make_corpus(seed: int, n_files: int) -> Corpus:
    rng = np.random.default_rng(seed)
    vocab = _words(rng, VOCAB)
    probs = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    cdf = np.cumsum(probs / probs.sum())
    cdf[-1] = 1.0
    repos = sorted(f"org{i % 7}/repo{i:02d}" for i in range(24))
    # external ids are sparse and seed-dependent so that no code path can
    # pass by confusing them with the engine's internal docids
    base = int(rng.integers(1_000, 9_000)) * 1_000
    c = Corpus(rng, vocab, cdf, repos, base + 3 * n_files, [])
    c.rows = [c.new_doc(base + 3 * i) for i in range(n_files)]
    return c


def write_parquet(rows: list[dict], path: str) -> int:
    """Write the corpus table: the ``code_files`` columns (repo, path,
    commit, lang, content) plus the external ``doc_id``. Returns the
    content bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = ("doc_id", "repo", "path", "commit", "lang", "content")
    table = pa.table({c: [r[c] for r in rows] for c in cols})
    pq.write_table(table, path)
    return sum(len(r["content"].encode()) for r in rows)


# --------------------------------------------------------------------------
# query streams


def df_table(docs_terms: list[set[str]]) -> dict[str, int]:
    df: dict[str, int] = {}
    for ts in docs_terms:
        for t in ts:
            df[t] = df.get(t, 0) + 1
    return df


def selective_queries(seed: int, df: dict[str, int], max_df: int = 4):
    """Queries of 1, 2, 3, 1, ... low-df words (the same mix in every run)
    until the band runs out; no word is used twice, so every query misses
    the engine's term memo. The stream has its own generator, so how much
    of it a run consumes changes no other input."""
    rng = np.random.default_rng([seed, 1])
    band = sorted(t for t, d in df.items() if d <= max_df and not t.startswith("mk"))
    order = rng.permutation(len(band))
    pos, i = 0, 0
    while pos + 3 <= len(order):
        k = 1 + i % 3
        yield " ".join(band[j] for j in order[pos : pos + k])
        pos, i = pos + k, i + 1


# --------------------------------------------------------------------------
# bulk + DSL stream


def bulk_batch(c: Corpus, live_ids: list[int], n_update: int, n_new: int,
               n_delete: int) -> tuple[list[str], list[dict], list[int]]:
    """One ``_bulk`` request: ``n_update`` re-indexed existing docs,
    ``n_new`` new docs, ``n_delete`` deletes of other live docs. Returns the
    NDJSON lines, the upserted documents and the deleted ids."""
    rng = c.rng
    picks = rng.choice(len(live_ids), size=n_update + n_delete, replace=False)
    upd = [live_ids[i] for i in picks[:n_update]]
    dele = [live_ids[i] for i in picks[n_update:]]
    new = [c.next_id + 3 * i for i in range(n_new)]
    c.next_id += 3 * n_new
    docs = [c.new_doc(i) for i in upd + new]
    lines: list[str] = []
    for d in docs:
        lines.append(json.dumps({"index": {"_id": d["doc_id"]}}))
        lines.append(json.dumps({k: d[k] for k in ("content", "repo", "lang")}))
    for i in dele:
        lines.append(json.dumps({"delete": {"_id": i}}))
    return lines, docs, dele


def bool_bodies(seed: int, mid: list[str], repos: list[str]):
    """Endless ``bool`` bodies over mid-df words: one must, two should, one
    must_not and a keyword range on ``repo`` covering a third to two thirds
    of the repos. Like the query stream, it has its own generator."""
    rng = np.random.default_rng([seed, 2])
    while True:
        w = [str(x) for x in rng.choice(mid, size=4, replace=False)]
        lo = int(rng.integers(0, len(repos) // 3))
        hi = lo + int(rng.integers(len(repos) // 3, 2 * len(repos) // 3))
        yield {"query": {"bool": {
            "must": [{"match": {"content": w[0]}}],
            "should": [{"match": {"content": w[1]}},
                       {"match": {"content": w[2]}}],
            "must_not": [{"match": {"content": w[3]}}],
            "filter": [{"range": {"repo": {"gte": repos[lo], "lt": repos[hi]}}}],
        }}, "size": 10}
