"""Search-as-you-type suggestions (prefix matching), the native analog of the
reference's ``search_as_you_type`` suggestion fields and shingle phrases
(reference: stacmodel/src/main/resources/schema/portal_records_index_schema.json:112-132
declares ``search_suggestions.*`` as search_as_you_type; the phrases themselves come
from the ``shingle_analyser`` chain :15-32; populated at
indexer/.../IndexerMetadataServiceImpl.java:172-195 via ES `_analyze`).

Two surfaces:

- :func:`suggest_prefix` — unigram completion straight off the published index's
  term dictionary (no extra artifact needed): prefix range-scan over the
  term-sorted dict parquet (min/max row-group pruning makes this a point-range
  read), ranked by collection frequency. ES's edge-ngram index trades space for
  lookup speed; on a columnar dict a sorted range scan gets the same pruning
  without materializing ngrams.
- :func:`phrase_suggestions` — 2-4-gram shingle phrases extracted with the
  shingle chain, ranked by document frequency; the analog of
  ``search_suggestions.abstract_phrases``.

Scale: the dict is term-sorted parquet → a prefix is one contiguous row-group
range per file; phrase extraction is one explode + hash agg (partial+final,
no skew risk beyond ordinary term skew — same bucketing as the main index
would apply if materialized).
"""

from __future__ import annotations

import os
import re as _re

from pyspark.sql import DataFrame, SparkSession, functions as F

from es_indexer_spark.analysis.tokenizer import shingle_udf
from es_indexer_spark.index.reader import IndexReader, open_index


def suggest_prefix(
    spark: SparkSession, index_root: str, prefix: str, k: int = 10
) -> DataFrame:
    """Top-k dictionary terms completing ``prefix``, ranked by cf desc, term asc."""
    d = spark.read.parquet(os.path.join(open_index(spark, index_root).vdir, "dict"))
    p = prefix.lower()
    return (
        d.filter(F.col("term").startswith(p))
        .orderBy(F.desc("cf"), F.asc("term"))
        .select("term", "df", "cf")
        .limit(k)
    )


def build_completion_contexts(
    spark: SparkSession,
    corpus_df: DataFrame,
    index_root: str,
    *,
    content_col: str,
    context_col: str,
    tokenizer: str = "standard",
    lang_col: str | None = None,
) -> str:
    """ES completion-suggester CONTEXTS analog: a per-context term-statistics
    artifact (``(ctx, term, df, cf)``) under the CURRENT index version, so
    suggestions can be filtered by a category context at query time (ES
    indexes context values alongside each suggestion; this engine aggregates
    them once at build time — same information, columnar layout).

    Scale: one tokenize pass (the builder's own Arrow term-stats UDF — per-doc
    unique terms + tfs, no per-token rows before the explode) and ONE
    partial+final hash agg on (ctx, term); written partitioned by ``ctx``
    (query-time partition pruning) and term-sorted within files (row-group
    pruning for the prefix scan). Returns the artifact path."""
    from es_indexer_spark.analysis.tokenizer import get_term_stats_udf

    out_dir = os.path.join(
        open_index(spark, index_root).vdir, f"completion_ctx_{context_col}"
    )
    ts_udf = get_term_stats_udf(tokenizer)
    if tokenizer == "code":
        lang_expr = (
            F.col(lang_col) if lang_col else F.lit(None).cast("string")
        )
        stats_col = ts_udf(F.col(content_col), lang_expr)
    else:
        stats_col = ts_udf(F.col(content_col))
    pairs = (
        corpus_df.select(
            F.col(context_col).cast("string").alias("ctx"),
            stats_col.alias("_ts"),
        )
        .where(F.col("ctx").isNotNull())
        .select("ctx", F.explode(F.arrays_zip("_ts.terms", "_ts.tfs")).alias("p"))
        .select("ctx", F.col("p.terms").alias("term"), F.col("p.tfs").alias("tf"))
    )
    (
        pairs.groupBy("ctx", "term")
        .agg(F.count("*").alias("df"), F.sum("tf").cast("long").alias("cf"))
        .repartition("ctx")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .partitionBy("ctx")
        .parquet(out_dir)
    )
    return out_dir


def suggest_prefix_ctx(
    spark: SparkSession,
    index_root: str,
    prefix: str,
    context_col: str,
    values: list[str],
    k: int = 10,
) -> DataFrame:
    """Context-filtered completion: top-k terms completing ``prefix`` among
    docs whose ``context_col`` is in ``values`` — the ES completion
    suggester's ``contexts`` option. Ranked cf desc, term asc (the same rule
    as :func:`suggest_prefix`); df/cf sum across the requested context
    values (a doc carries one context value, so nothing double-counts).

    Needs :func:`build_completion_contexts` to have run for ``context_col``
    on the CURRENT version — raises by name otherwise. The context filter is
    partition pruning, the prefix a pushed StringStartsWith."""
    path = os.path.join(
        open_index(spark, index_root).vdir, f"completion_ctx_{context_col}"
    )
    if not os.path.isdir(path):
        raise FileNotFoundError(
            f"no completion-context artifact for {context_col!r} — run "
            "build_completion_contexts(spark, corpus_df, index_root, "
            f"content_col=..., context_col={context_col!r}) first"
        )
    d = spark.read.parquet(path)
    p = str(prefix).lower()
    return (
        d.filter(
            F.col("ctx").isin([str(v) for v in values])
            & F.col("term").startswith(p)
        )
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"),
             F.sum("cf").cast("long").alias("cf"))
        .orderBy(F.desc("cf"), F.asc("term"))
        .limit(int(k))
    )


def suggest_fuzzy(
    spark: SparkSession,
    index_root: str,
    prefix: str,
    k: int = 10,
    *,
    fuzziness: int = 1,
    prefix_length: int = 1,
    min_fuzzy_length: int = 3,
    transpositions: bool = False,
) -> DataFrame:
    """ES ``completion`` suggester with ``fuzzy`` options: top-k dictionary
    terms whose PREFIX is within ``fuzziness`` edits of the typed prefix —
    the type-ahead-with-typos surface (public Lucene FuzzyCompletionQuery
    semantics; the reference's suggestion fields are
    portal_records_index_schema.json:112-132).

    ES fuzzy-completion rules reproduced:
    - ``prefix_length`` leading characters must match exactly (keeps the
      dictionary scan a contiguous startswith range — same pruning as
      :func:`suggest_prefix`);
    - inputs shorter than ``min_fuzzy_length`` fall back to exact prefix
      completion (ES default 3);
    - ranking favors closer matches first (Lucene boosts by
      ``maxEdits - actualEdits``): ordered by (edits asc, cf desc, term asc).

    Execution: the candidate prefix-edit test is a constant-size OR over the
    ``2*fuzziness+1`` possible prefix lengths, each a whole-stage-codegen
    ``levenshtein(substring(term, 1, L), prefix)`` — one pruned dict scan,
    no UDF, no expansion join. Returns ``(term, df, cf, edits)``.

    ``transpositions=True`` measures the prefix edits with Damerau-Levenshtein
    (an adjacent swap = ONE edit, ES's default completion-fuzzy semantics;
    this engine defaults to classic Levenshtein — documented divergence).
    The distance has no Spark built-in, so the exact window minimum runs in
    one Arrow stage over candidates pre-pruned JVM-side by
    ``levenshtein <= 2*fuzziness`` (sound: ``lev <= 2*damerau``)."""
    d = spark.read.parquet(os.path.join(open_index(spark, index_root).vdir, "dict"))
    p = prefix.lower()
    f = int(fuzziness) if len(p) >= int(min_fuzzy_length) else 0
    if f == 0:
        return (
            d.filter(F.col("term").startswith(p))
            .select("term", "df", "cf", F.lit(0).alias("edits"))
            .orderBy(F.desc("cf"), F.asc("term"))
            .limit(k)
        )
    head = p[: int(prefix_length)]
    cand = d.filter(F.col("term").startswith(head)) if head else d
    cand = cand.filter(F.length("term") >= len(p) - f)
    windows = list(range(max(1, len(p) - f), len(p) + f + 1))
    dists = [
        F.levenshtein(F.substring("term", 1, L), F.lit(p)) for L in windows
    ]
    lev_edits = F.least(*dists) if len(dists) > 1 else dists[0]
    if transpositions:
        from es_indexer_spark.query.engine import _damerau

        @F.pandas_udf("integer")
        def _dl_edits(s):
            return s.map(lambda t: min(_damerau(t[:L], p) for L in windows))

        edits = (
            cand.filter(lev_edits <= 2 * f)
            .withColumn("edits", _dl_edits(F.col("term")))
        )
    else:
        edits = cand.withColumn("edits", lev_edits)
    return (
        edits.filter(F.col("edits") <= f)
        .select("term", "df", "cf", "edits")
        .orderBy(F.asc("edits"), F.desc("cf"), F.asc("term"))
        .limit(k)
    )


def _expansion_docids(r: IndexReader, exp_rows, k: int) -> DataFrame:
    """Shared tail of the multi-term constant-score rewrites (prefix /
    wildcard): docs containing ANY of the expanded dictionary terms,
    constant score 1.0, docid-ordered, top-k.

    Physical shape: the postings scan is bucket-dir pruned + term pushed
    exactly like the ranked path; distinct docids come from a
    map-side-combined aggregation over decoded blocks. Tombstoned docs are
    dropped at decode, same as every scorer."""
    import numpy as np
    import pandas as pd

    from es_indexer_spark.index.codec import decode_block
    from es_indexer_spark.index.tombstones import live_mask
    from es_indexer_spark.query.engine import empty_scores

    if not exp_rows:
        return empty_scores(r.spark)
    terms = sorted(row["term"] for row in exp_rows)
    buckets = sorted({row["bucket"] for row in exp_rows})
    tomb = r.tomb_array()

    def docids(it):
        for pdf in it:
            parts = []
            for row in pdf.itertuples(index=False):
                dd, _t, _l = decode_block(
                    row.gaps, row.tfs, row.dls, row.first_docid
                )
                d64 = dd.astype(np.int64)
                if tomb is not None:
                    keep = live_mask(tomb, d64)
                    if keep is not None and not keep.all():
                        d64 = d64[keep]
                parts.append(d64)
            u = (
                np.unique(np.concatenate(parts))
                if parts
                else np.array([], dtype=np.int64)
            )
            yield pd.DataFrame({"docid": u})

    hits = r.blocks(terms, buckets).mapInPandas(
        docids, "docid long"
    )
    return (
        hits.distinct()
        .select("docid", F.lit(1.0).alias("score"))
        .orderBy(F.asc("docid"))
        .limit(k)
    )


def prefix_query(
    spark: SparkSession,
    index_root: str,
    prefix: str,
    k: int = 10,
    max_expansions: int = 50,
) -> DataFrame:
    """ES ``prefix`` query with Lucene's constant-score rewrite: expand the
    prefix against the term dictionary (capped at ``max_expansions`` like
    Lucene's top-terms rewrites, highest-df terms kept — the cap is what
    keeps a one-letter prefix from exploding into the whole vocabulary at
    scale), then return docs containing ANY expansion, constant score 1.0,
    docid-ordered. The dict prefix scan is a contiguous row-group range of
    the term-sorted parquet."""
    r = open_index(spark, index_root)
    p = prefix.lower()
    # the reader's per-version persisted dictionary (same serving cache the
    # ranked/fuzzy paths use — a cold call still pushes the scan to parquet)
    exp = (
        r.dict_df()
        .filter(F.col("term").startswith(p))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expansions)
        .collect()
    )
    return _expansion_docids(r, exp, k)


def wildcard_pattern_to_regex(pattern: str) -> str:
    """Translate an ES/Lucene wildcard pattern (``*`` = any run, ``?`` = one
    char) into an anchored regex, escaping everything else."""
    out = []
    for ch in pattern.lower():
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(_re.escape(ch))
    return "^" + "".join(out) + "$"


def wildcard_query(
    spark: SparkSession,
    index_root: str,
    pattern: str,
    k: int = 10,
    max_expansions: int = 50,
) -> DataFrame:
    """ES ``wildcard`` query (``*``/``?``), Lucene constant-score rewrite:
    match the pattern against the term dictionary, cap at ``max_expansions``
    (highest-df kept), return docs containing ANY expansion at constant
    score 1.0, docid-ordered.

    Scale note, faithful to Lucene: a LEADING wildcard cannot prune the
    term-sorted dictionary — it is a full dict scan (columnar + predicate-
    pushed, but every row-group). A leading literal prefix is extracted and
    pushed as a ``startswith`` range so ``spa*k?`` style patterns keep the
    contiguous row-group pruning of the prefix path."""
    p = pattern.lower()
    r = open_index(spark, index_root)
    d = r.dict_df()
    # push the literal prefix (chars before the first wildcard) as a range
    lit = _re.match(r"^[^*?]*", p).group(0)
    if lit:
        d = d.filter(F.col("term").startswith(lit))
    exp = (
        d.filter(F.col("term").rlike(wildcard_pattern_to_regex(p)))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expansions)
        .collect()
    )
    return _expansion_docids(r, exp, k)


_LUCENE_RE_UNSUPPORTED = set("~&<>#")
_LUCENE_RE_SPECIAL = set('.?+*|{}[]()"\\@') | _LUCENE_RE_UNSUPPORTED


def lucene_regexp_to_java(pattern: str) -> str:
    """Translate a Lucene ``RegExp`` pattern (the syntax ES ``regexp``
    queries document) into an anchored Java-compatible regex for ``rlike``.

    The core operator set — literals, ``.``, ``[...]``, ``(...)``, ``|``,
    ``*``, ``+``, ``?``, ``{m,n}``, ``\\``-escapes — is shared syntax and
    passes through unchanged; Lucene's ``@`` (ANYSTRING) becomes ``.*``.
    Lucene's optional operators with no regex equivalent (``~`` complement,
    ``&`` intersection, ``<n-m>`` numeric interval, ``#`` empty-language)
    raise, naming the operator, rather than silently mis-matching."""
    out = []
    escaped = False
    for ch in pattern:
        if escaped:
            out.append("\\" + ch)
            escaped = False
        elif ch == "\\":
            escaped = True
        elif ch in _LUCENE_RE_UNSUPPORTED:
            raise ValueError(
                f"unsupported Lucene regexp operator {ch!r} in {pattern!r} "
                "(supported: . ? + * | {m,n} [...] (...) @ and \\-escapes)"
            )
        elif ch == "@":
            out.append(".*")
        else:
            out.append(ch)
    if escaped:
        raise ValueError(f"trailing backslash in regexp pattern {pattern!r}")
    return "^" + "".join(out) + "$"


def regexp_query(
    spark: SparkSession,
    index_root: str,
    pattern: str,
    k: int = 10,
    max_expansions: int = 50,
) -> DataFrame:
    """ES ``regexp`` query (Lucene ``RegexpQuery``), constant-score rewrite:
    match the (implicitly anchored, as in Lucene) pattern against the term
    dictionary, cap expansions at ``max_expansions`` (highest-df kept, the
    top-terms rewrite), return docs containing ANY expansion at constant
    score 1.0, docid-ordered.

    Scale shape is the wildcard path's: the literal prefix before the first
    operator is pushed as a ``startswith`` range over the term-sorted dict
    parquet (contiguous row-group scan); a pattern with no literal prefix is
    a full dict scan — exactly Lucene's automaton behavior, where only a
    common literal prefix prunes the terms enumeration."""
    r = open_index(spark, index_root)
    return _expansion_docids(r, _regexp_expansion_rows(r, pattern, max_expansions), k)


def _regexp_expansion_rows(r: IndexReader, pattern: str, max_expansions: int):
    """Dictionary rows matching a Lucene regexp — the literal prefix before
    the first operator pushed as a startswith range over the term-sorted
    dict, top-``max_expansions`` by df (the top-terms rewrite)."""
    p = pattern.lower()
    rx = lucene_regexp_to_java(p)
    d = r.dict_df()
    lit = ""
    for ch in p:
        if ch in _LUCENE_RE_SPECIAL:
            break
        lit += ch
    if lit:
        d = d.filter(F.col("term").startswith(lit))
    return (
        d.filter(F.col("term").rlike(rx))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expansions)
        .collect()
    )


def regexp_expansions(
    spark: SparkSession,
    index_root: str,
    pattern: str,
    max_expansions: int = 50,
) -> list[str]:
    """The regexp query's dictionary expansion as a plain term list — the
    ``/regex/`` construct in classic ``query_string`` lowers onto the bool
    engine's constant-score terms groups through this (Lucene's
    constant-score multi-term rewrite, same as the wildcard leaf)."""
    rows = _regexp_expansion_rows(
        open_index(spark, index_root), pattern, int(max_expansions)
    )
    return sorted(row["term"] for row in rows)


def phrase_suggestions(
    df: DataFrame,
    id_col: str,
    content_col: str,
    prefix: str | None = None,
    k: int = 20,
) -> DataFrame:
    """2-4-gram (plus unigram) shingle phrases ranked by document frequency.

    Per-doc phrases are already unique (the chain ends in a ``unique`` filter,
    schema :30), so df = count of docs per phrase.
    """
    phrases = df.select(
        F.col(id_col).alias("_id"), F.explode(shingle_udf(F.col(content_col))).alias("phrase")
    )
    agg = phrases.groupBy("phrase").agg(F.count("*").alias("df"))
    if prefix:
        agg = agg.filter(F.col("phrase").startswith(prefix.lower()))
    return agg.orderBy(F.desc("df"), F.asc("phrase")).limit(k)


def _jaro_winkler(s: str, t: str) -> float:
    """Jaro-Winkler similarity, exactly DuckDB's ``jaro_winkler_similarity``
    (verified by 20k-string fuzz): match window ``max(len)//2 - 1``,
    half-transposition count, prefix boost ``l<=4`` at weight 0.1 applied
    when jaro > 0.7, and 0.0 when either side is empty (DuckDB's
    empty-vs-empty convention)."""
    ls, lt = len(s), len(t)
    if not ls or not lt:
        return 0.0
    if s == t:
        return 1.0
    window = max(ls, lt) // 2 - 1
    if window < 0:
        window = 0
    tm = [False] * lt
    sm = [False] * ls
    m = 0
    for i, c in enumerate(s):
        lo = i - window
        if lo < 0:
            lo = 0
        hi = i + window + 1
        if hi > lt:
            hi = lt
        for j in range(lo, hi):
            if not tm[j] and t[j] == c:
                tm[j] = sm[i] = True
                m += 1
                break
    if m == 0:
        return 0.0
    k = 0
    trans = 0
    for i in range(ls):
        if sm[i]:
            while not tm[k]:
                k += 1
            if s[i] != t[k]:
                trans += 1
            k += 1
    trans //= 2
    j = (m / ls + m / lt + (m - trans) / m) / 3.0
    if j > 0.7:
        l = 0
        for a, b in zip(s, t):
            if a == b and l < 4:
                l += 1
            else:
                break
        j = j + 0.1 * l * (1.0 - j)
    return j


def _ngram_similarity(s: str, t: str, n: int = 2) -> float:
    """Kondrak (2005) positional n-gram edit similarity, n=2 — the published
    algorithm behind Lucene's spell-module ``NGramDistance`` (re-implemented
    from the paper's DP formulation, not translated): a Levenshtein-style DP
    whose substitution cost is the fraction of mismatching positions between
    the aligned n-grams, with an (n-1)-NUL source prefix whose matched pad
    positions are discounted from the denominator. Degenerate inputs follow
    the same conventions: both empty → 1.0, one empty → 0.0, either side
    shorter than ``n`` → position-wise char agreement / max(len).
    Returned as similarity ``1 - dist/max(len)`` in [0, 1]."""
    sl, tl = len(s), len(t)
    if sl == 0 or tl == 0:
        return 1.0 if sl == tl else 0.0
    if sl < n or tl < n:
        m = sum(1 for a, b in zip(s, t) if a == b)
        return m / max(sl, tl)
    sa = ("\0" * (n - 1)) + s
    p = [float(i) for i in range(sl + 1)]
    d = [0.0] * (sl + 1)
    for j in range(1, tl + 1):
        t_j = ("\0" * (n - j) + t[:j]) if j < n else t[j - n : j]
        d[0] = float(j)
        for i in range(1, sl + 1):
            cost = 0
            tn = n
            for ni in range(n):
                if sa[i - 1 + ni] != t_j[ni]:
                    cost += 1
                elif sa[i - 1 + ni] == "\0":
                    tn -= 1  # discount pad-vs-pad agreements
            d[i] = min(d[i - 1] + 1.0, p[i] + 1.0, p[i - 1] + cost / tn)
        p, d = d, p
    return 1.0 - p[sl] / max(sl, tl)


def suggest_terms(
    spark: SparkSession,
    index_root: str,
    text: str,
    *,
    max_edits: int = 2,
    prefix_length: int = 1,
    size: int = 5,
    suggest_mode: str = "missing",
    min_word_length: int = 4,
    string_distance: str = "levenshtein",
    sort: str = "score",
) -> DataFrame:
    """ES ``term`` suggester (did-you-mean): for each analyzed token of
    ``text``, dictionary terms within ``max_edits`` Levenshtein edits,
    ranked the way ES sorts with ``sort: score`` — closer first, then doc
    frequency desc, then term asc — top ``size`` per token. ES rules
    reproduced: ``prefix_length`` leading chars must match exactly (keeps
    the dict scan a contiguous startswith range), tokens shorter than
    ``min_word_length`` are skipped, and ``suggest_mode='missing'`` (the ES
    default) only suggests for tokens absent from the index;
    ``'popular'`` suggests for every token but keeps only candidates with a
    HIGHER doc frequency than the input term itself (ES's
    more-common-spelling mode; an absent input has df 0, so it behaves like
    ``always``); ``'always'`` suggests for every token (the exact token
    itself is never returned as its own suggestion).

    ``string_distance``: ``'levenshtein'`` (this engine's default) or
    ``'damerau_levenshtein'`` / ``'internal'`` — an adjacent swap counts as
    ONE edit (ES defaults to ``internal``, its length-discounted Damerau;
    here ``internal`` maps to exact unrestricted Damerau-Levenshtein — the
    DuckDB-replayable distance — a documented stand-in divergence) — or
    ``'jaro_winkler'``: candidates are still gated by ``max_edits``
    Levenshtein edits (Lucene's DirectSpellChecker generates from the
    edit-distance automaton regardless of the configured distance; the
    distance only re-scores), the result gains a ``score`` column (the
    Jaro-Winkler similarity, exactly DuckDB's ``jaro_winkler_similarity``,
    rounded to 6 dp for replay determinism), and ``sort='score'`` orders by
    score DESC first — or ``'ngram'``: same candidate gate and score-column
    shape, scored with the Kondrak (2005) positional bigram edit similarity
    (the algorithm behind Lucene's NGramDistance; see
    :func:`_ngram_similarity` — pytest-pinned, no SQL equivalent so no
    oracle entry).

    ``sort``: ``'score'`` (ES default — closer first, then df desc) or
    ``'frequency'`` (df desc first, then closer — ES's high-traffic
    did-you-mean mode).

    Execution: one pruned dict scan per input token (|tokens| is
    request-sized), each a whole-stage-codegen length-window +
    ``levenshtein(term, token)`` filter — no UDF, no expansion join. The
    Damerau distances have no Spark built-in, so they add one Arrow stage
    over candidates pre-pruned by ``levenshtein <= 2*max_edits``.
    Returns ``(input, term, edits, df)``."""
    from es_indexer_spark.analysis.tokenizer import tokenize_one

    if suggest_mode not in ("missing", "always", "popular"):
        raise ValueError(
            "suggest_mode must be 'missing', 'popular' or 'always'"
        )
    if string_distance not in (
        "levenshtein", "damerau_levenshtein", "internal",
        "jaro_winkler", "ngram",
    ):
        raise ValueError(f"unknown string_distance {string_distance!r}")
    if sort not in ("score", "frequency"):
        raise ValueError(f"sort must be 'score' or 'frequency', got {sort!r}")
    damerau = string_distance in ("damerau_levenshtein", "internal")
    sim_fn = {
        "jaro_winkler": _jaro_winkler,
        "ngram": _ngram_similarity,
    }.get(string_distance)
    r = open_index(spark, index_root)
    tokens = [
        t
        for t in dict.fromkeys(tokenize_one(text, r.tokenizer))
        if len(t) >= int(min_word_length)
    ]
    input_df: dict[str, int] = {}
    if suggest_mode == "missing":
        present = {row["term"] for row in r.lookup(tokens)}
        tokens = [t for t in tokens if t not in present]
    elif suggest_mode == "popular":
        # one point lookup for the inputs' own df (absent -> 0); candidates
        # must beat it — the df bound pushes into the dict scan below
        input_df = {row["term"]: int(row["df"]) for row in r.lookup(tokens)}
    schema = "input string, term string, edits int, df long"
    if sim_fn is not None:
        schema += ", score double"
    if not tokens:
        return spark.createDataFrame([], schema)
    d = spark.read.parquet(os.path.join(r.vdir, "dict"))
    parts = []
    for tok in tokens:
        head = tok[: int(prefix_length)]
        cand = d.filter(F.col("term").startswith(head)) if head else d
        cand = cand.filter(
            (F.length("term") >= len(tok) - int(max_edits))
            & (F.length("term") <= len(tok) + int(max_edits))
            & (F.col("term") != tok)
        )
        if suggest_mode == "popular" and input_df.get(tok, 0) > 0:
            cand = cand.filter(F.col("df") > input_df[tok])
        if damerau:
            from es_indexer_spark.query.engine import _damerau

            @F.pandas_udf("integer")
            def _dl(s, _t=tok):
                return s.map(lambda x: _damerau(x, _t))

            cand = cand.filter(
                F.levenshtein(F.col("term"), F.lit(tok)) <= 2 * int(max_edits)
            ).withColumn("edits", _dl(F.col("term")))
        else:
            cand = cand.withColumn(
                "edits", F.levenshtein(F.col("term"), F.lit(tok))
            )
        cand = cand.filter(F.col("edits") <= int(max_edits))
        cols = [F.lit(tok).alias("input"), "term", "edits", "df"]
        if sim_fn is not None:
            # re-score the (request-sized, edit-pruned) candidate set with
            # the similarity — one Arrow stage, rounded to 6 dp (for
            # jaro_winkler the DuckDB replay hashes identically)
            @F.pandas_udf("double")
            def _sim(s, _t=tok, _f=sim_fn):
                return s.map(lambda x: round(_f(x, _t), 6))

            cand = cand.withColumn("score", _sim(F.col("term")))
            cols.append("score")
            order = (
                [F.desc("score"), F.desc("df"), F.asc("term")]
                if sort == "score"
                else [F.desc("df"), F.desc("score"), F.asc("term")]
            )
        else:
            order = (
                [F.asc("edits"), F.desc("df"), F.asc("term")]
                if sort == "score"
                else [F.desc("df"), F.asc("edits"), F.asc("term")]
            )
        w = cand.select(*cols).orderBy(*order).limit(int(size))
        parts.append(w)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------------------------- phrase suggester

def _bigram_count_scorer(pairs: list[tuple[str, str]]):
    """Per-shard adjacency counter: for each candidate bigram ``(a, b)``,
    the number of positions where an occurrence of ``a`` is immediately
    followed by ``b`` in the same doc — the same packed ``docid<<32|pos``
    key chain as the phrase scorer, one searchsorted membership per pair.
    Shards partition docids, so per-shard counts sum exactly."""
    import numpy as np
    import pandas as pd

    from es_indexer_spark.index.codec import decode_block, decode_positions
    from es_indexer_spark.query.phrase import _sorted_member

    def count(pdf: pd.DataFrame) -> pd.DataFrame:
        term_keys: dict[str, object] = {}
        for term, gg in pdf.groupby("term", sort=False):
            parts = []
            for row in gg.itertuples(index=False):
                d, t, _l = decode_block(
                    row.gaps, row.tfs, row.dls, row.first_docid
                )
                flat = decode_positions(row.poss, t)
                d64 = d.astype(np.int64)
                parts.append(
                    (np.repeat(d64, t.astype(np.int64)) << 32)
                    | flat.astype(np.int64)
                )
            if parts:
                keys = np.concatenate(parts)
                keys.sort()
                term_keys[term] = keys
        out_i: list[int] = []
        out_c: list[int] = []
        for i, (a, b) in enumerate(pairs):
            if a in term_keys and b in term_keys:
                c = int(_sorted_member(term_keys[b], term_keys[a] + 1).sum())
                if c:
                    out_i.append(i)
                    out_c.append(c)
        return pd.DataFrame({"pair": out_i, "cnt": out_c})

    return count


def suggest_phrase(
    spark: SparkSession,
    index_root: str,
    text: str,
    *,
    size: int = 5,
    max_edits: int = 2,
    prefix_length: int = 1,
    candidates_per_term: int = 5,
    real_word_error_likelihood: float = 0.95,
    confidence: float = 1.0,
    alpha: float = 0.5,
    max_combinations: int = 2000,
    lang: str | None = None,
) -> DataFrame:
    """ES ``phrase`` suggester (whole-phrase did-you-mean), index-backed.

    ES/Lucene rank candidate phrases with a shingle-field language model ×
    a noisy-channel prior (NoisyChannelSpellChecker + LaplaceScorer, public
    behavior). This engine stores postings + positions instead of shingles,
    so the SAME statistics come straight off the index — deterministic and
    SQL-replayable, no shingle field needed:

    - per input token, candidates = the token itself (when indexed) + the
      top ``candidates_per_term`` dictionary terms within ``max_edits``
      (``prefix_length`` anchored, ranked edits asc / df desc / term asc —
      the term suggester's exact rules);
    - language model = Laplace-smoothed bigram LM over REAL corpus counts:
      ``P(w1) = (cf(w1)+α) / (N+α·V)``,
      ``P(wi|wi-1) = (bigram(wi-1,wi)+α) / (cf(wi-1)+α·V)`` with ``N`` =
      total tokens, ``V`` = vocabulary size; every candidate bigram's
      adjacency count is measured in ONE postings scan (an Arrow stage
      chains packed position keys per shard — work ∝ the candidate terms'
      postings, never the corpus);
    - channel prior per token: ``real_word_error_likelihood`` when the
      candidate IS the input token, else ``1 - edits/max(|tok|,|cand|)``
      (a deterministic stand-in for Lucene's distance-weighted prior —
      documented divergence);
    - a suggestion survives when ``score > confidence × score(input
      phrase)`` (the ES confidence gate; an un-scorable input — any token
      absent from the dictionary — gates nothing).

    Corpus statistics include logically-deleted docs until ``compact_index``
    (Lucene live-docs semantics, same as idf/avgdl). Combination count is
    capped at ``max_combinations`` (request-sized math; lower
    ``candidates_per_term`` for long texts). Returns ``(suggestion,
    score)``, score desc / suggestion asc, top ``size``.

    Reference anchor: the portal's suggestion surface
    (portal_records_index_schema.json:112-132 search_as_you_type +
    shingle_analyser chain :15-32); the phrase suggester itself is the ES
    API those fields exist to serve."""
    from itertools import product

    from es_indexer_spark.analysis.tokenizer import split_lang_marker, tokenize_one

    r = open_index(spark, index_root)
    if not r.stats.get("positions"):
        raise ValueError(
            f"index at {index_root} was built without store_positions=True "
            "(the phrase suggester measures bigram counts from positions)"
        )
    tokens, _marker = split_lang_marker(tokenize_one(text, r.tokenizer, lang=lang))
    schema = "suggestion string, score double"
    if not tokens:
        return spark.createDataFrame([], schema)

    d = spark.read.parquet(os.path.join(r.vdir, "dict"))
    own = {row["term"]: row for row in r.lookup(sorted(set(tokens)))}
    # candidates per position: (term, cf, prior)
    cands: list[list[tuple[str, int, float]]] = []
    for tok in tokens:
        cl: list[tuple[str, int, float]] = []
        if tok in own:
            cl.append((tok, int(own[tok]["cf"]), float(real_word_error_likelihood)))
        head = tok[: int(prefix_length)]
        cand = d.filter(F.col("term").startswith(head)) if head else d
        cand = cand.filter(
            (F.length("term") >= len(tok) - int(max_edits))
            & (F.length("term") <= len(tok) + int(max_edits))
            & (F.col("term") != tok)
        ).withColumn("edits", F.levenshtein(F.col("term"), F.lit(tok)))
        rows = (
            cand.filter(F.col("edits") <= int(max_edits))
            .orderBy(F.asc("edits"), F.desc("df"), F.asc("term"))
            .limit(int(candidates_per_term))
            .collect()
        )
        for row in rows:
            prior = 1.0 - row["edits"] / max(len(tok), len(row["term"]))
            cl.append((row["term"], int(row["cf"]), prior))
        if not cl:
            return spark.createDataFrame([], schema)  # a position with no candidates
        cands.append(cl)

    n_combos = 1
    for cl in cands:
        n_combos *= len(cl)
    if n_combos > int(max_combinations):
        raise ValueError(
            f"{n_combos} candidate phrases exceed max_combinations="
            f"{max_combinations} — lower candidates_per_term or shorten the text"
        )

    # corpus LM constants off the dictionary (small aggregations)
    vn = d.agg(
        F.count(F.lit(1)).alias("v"), F.sum("cf").alias("n")
    ).collect()[0]
    V, N = float(vn["v"]), float(vn["n"])

    # every candidate bigram's adjacency count in ONE postings scan
    pairs = sorted(
        {
            (a[0], b[0])
            for i in range(len(cands) - 1)
            for a in cands[i]
            for b in cands[i + 1]
        }
    )
    big: dict[tuple[str, str], int] = {}
    if pairs:
        uniq_terms = sorted({t for p in pairs for t in p})
        dict_rows = r.lookup(uniq_terms)
        buckets = sorted({row["bucket"] for row in dict_rows})
        present = sorted({row["term"] for row in dict_rows})
        blocks = r.blocks(present, buckets)
        counted = (
            blocks.groupBy("shard")
            .applyInPandas(
                lambda pdf: _bigram_count_scorer(pairs)(pdf),
                "pair int, cnt long",
            )
            .groupBy("pair")
            .agg(F.sum("cnt").alias("cnt"))
            .collect()
        )
        for row in counted:
            big[pairs[row["pair"]]] = int(row["cnt"])

    a = float(alpha)

    def combo_score(combo: tuple[tuple[str, int, float], ...]) -> float:
        # fixed left-to-right multiplication order — the oracle replays the
        # identical expression, so the doubles match bit-for-bit
        t0, cf0, pr0 = combo[0]
        s = (cf0 + a) / (N + a * V) * pr0
        for i in range(1, len(combo)):
            ti, _cfi, pri = combo[i]
            prev_t, prev_cf, _ = combo[i - 1]
            s = s * ((big.get((prev_t, ti), 0) + a) / (prev_cf + a * V)) * pri
        return s

    input_score = None
    if all(t in own for t in tokens):
        input_score = combo_score(
            tuple((t, int(own[t]["cf"]), float(real_word_error_likelihood))
                  for t in tokens)
        )
    out_rows = []
    for combo in product(*cands):
        s = combo_score(combo)
        if input_score is not None and not s > float(confidence) * input_score:
            continue
        out_rows.append((" ".join(c[0] for c in combo), float(s)))
    out_rows.sort(key=lambda r: (-r[1], r[0]))
    return spark.createDataFrame(out_rows[: int(size)], schema)
