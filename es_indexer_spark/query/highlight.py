"""ES-style highlighting: a snippet fragment per hit with query-term matches
wrapped in tags (the ES ``highlight`` block every search UI consumes — the
portal renders highlighted title/description snippets from the same index
this engine replaces; public ES behavior: unified highlighter, fragment
windows around the first match, ``<em>`` tags).

The index stores no raw text (like a Lucene index without stored fields), so
highlighting joins the ≤k hits back to the SOURCE table — the k-row side is
broadcast, the source read is pruned to the hit ids (docs parquet is
id-sorted → row-group point reads). Everything else is whole-stage-codegen
column algebra: the first-match position comes from a lazy prefix capture
(``^([\\s\\S]*?)\\b(term|...)\\b``) so the window math and the tag injection
are plain string expressions — no Python, no UDF, identical semantics on any
SQL engine (the DuckDB oracle replays it expression for expression)."""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame, SparkSession, functions as F

from es_indexer_spark.analysis.tokenizer import tokenize_one
from es_indexer_spark.index.reader import open_index
from es_indexer_spark.query.engine import topk


def _pattern_body(terms: list[str]) -> str:
    """Word-boundary alternation over the analyzed query terms (sorted for
    determinism; terms are analyzer output — no regex metacharacters — but
    escape anyway). Callers prepend flags/anchors."""
    return r"\b(" + "|".join(_re.escape(t) for t in sorted(set(terms))) + r")\b"


def term_pattern(terms: list[str]) -> str:
    """Case-insensitive match pattern for the query terms (the analyzer
    lowercases, the source text may not — ES highlighters are
    analysis-aware, so 'Spark' must tag for the term 'spark')."""
    return "(?i)" + _pattern_body(terms)


def phrase_pattern_body(terms: list[str]) -> str:
    """Whole-phrase body: the analyzed tokens IN ORDER, separated by the same
    character class the standard analyzer splits on — so adjacency in token
    space is exactly this regex on the raw text. One capture group wraps the
    whole phrase (the tag-injection contract)."""
    return (
        r"\b("
        + r"[^a-zA-Z0-9]+".join(_re.escape(t) for t in terms)
        + r")\b"
    )


def highlight_hits(
    hits: DataFrame,
    src: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    *,
    fragment_size: int = 160,
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
    pattern_body: str | None = None,
    number_of_fragments: int = 1,
    no_match_size: int = 0,
) -> DataFrame:
    """(docid, score, fragment) for scored ``hits`` against source text.

    Fragment = ``fragment_size`` chars starting ``fragment_size // 2`` before
    the first whole-word query-term match, with every in-window match wrapped
    in the tags. ``pattern_body`` overrides the per-term alternation (the
    phrase highlighter passes a whole-phrase body; it must contain exactly
    one capture group).

    ES fragment-count options, all still pure column algebra (no UDF):

    - ``number_of_fragments > 1`` returns a ``fragments`` ``array<string>``
      column instead of ``fragment``: window i+1 re-runs the same lazy
      prefix capture on the text AFTER window i (a bounded expression
      chain — the option is capped at 10, ES's practical range), nulls
      compacted away, so a doc with fewer matches gets fewer fragments;
    - ``number_of_fragments == 0`` = ES "no fragmenting": one ``fragment``
      holding the WHOLE field with every match tagged;
    - ``no_match_size > 0``: a hit whose text has no term match (possible
      when the caller's hits come from a filter/knn leg, not this pattern)
      yields the leading ``no_match_size`` chars untagged instead of the
      default head-window fragment."""
    body = pattern_body if pattern_body is not None else _pattern_body(terms)
    pat = "(?i)" + body
    pos_pat = r"(?i)^([\s\S]*?)" + body
    tag = pre_tag + "$1" + post_tag
    text = F.col(text_col)
    if number_of_fragments == 0:
        frag_col = F.regexp_replace(text, pat, tag).alias("fragment")
    elif number_of_fragments == 1:
        pos = F.length(F.regexp_extract(text, pos_pat, 1)) + F.lit(1)
        start = F.greatest(F.lit(1), pos - F.lit(fragment_size // 2))
        frag = F.regexp_replace(
            F.substring(text, start, fragment_size), pat, tag)
        if no_match_size > 0:
            frag = F.when(text.rlike(pat), frag).otherwise(
                F.substring(text, 1, no_match_size))
        frag_col = frag.alias("fragment")
    else:
        if number_of_fragments > 10:
            raise ValueError("number_of_fragments is capped at 10")
        frags, rem = [], text
        for _ in range(number_of_fragments):
            has = rem.rlike(pat)
            pos = F.length(F.regexp_extract(rem, pos_pat, 1)) + F.lit(1)
            start = F.greatest(F.lit(1), pos - F.lit(fragment_size // 2))
            frags.append(F.when(has, F.regexp_replace(
                F.substring(rem, start, fragment_size), pat, tag)))
            # everything after this window; length(rem) always covers the
            # tail and keeps the arithmetic clamped (no int overflow)
            rem = F.when(has, F.substring(
                rem, start + F.lit(fragment_size), F.length(rem))
            ).otherwise(F.lit(""))
        arr = F.array_compact(F.array(*frags))
        if no_match_size > 0:
            arr = F.when(text.rlike(pat), arr).otherwise(
                F.array(F.substring(text, 1, no_match_size)))
        frag_col = arr.alias("fragments")
    # alias the hit columns so a source table that itself has docid/score
    # (e.g. the engine's own docs store) never makes the select ambiguous
    lit_hits = F.broadcast(
        hits.select(
            F.col("docid").alias("__hit_docid"), F.col("score").alias("__hit_score")
        )
    )
    return (
        src.join(lit_hits, src[id_col] == lit_hits["__hit_docid"])
        .select(
            F.col("__hit_docid").alias("docid"),
            F.col("__hit_score").alias("score"),
            frag_col,
        )
        .orderBy(F.desc("score"), F.asc("docid"))
    )


def highlight(
    spark: SparkSession,
    index_root: str,
    src: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    k: int = 10,
    *,
    fragment_size: int = 160,
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
    number_of_fragments: int = 1,
    no_match_size: int = 0,
    lang: str | None = None,
) -> DataFrame:
    """BM25 top-k with highlighted fragments: run the ranked engine, then
    decorate the ≤k hits from the source table."""
    terms = tokenize_one(query, open_index(spark, index_root).tokenizer, lang=lang)
    hits = topk(spark, index_root, query, k=k, lang=lang)
    return highlight_hits(
        hits, src, id_col, text_col, terms,
        fragment_size=fragment_size, pre_tag=pre_tag, post_tag=post_tag,
        number_of_fragments=number_of_fragments, no_match_size=no_match_size,
    )


def highlight_phrase(
    spark: SparkSession,
    index_root: str,
    src: DataFrame,
    id_col: str,
    text_col: str,
    phrase: str,
    k: int = 10,
    *,
    fragment_size: int = 160,
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
    lang: str | None = None,
) -> DataFrame:
    """Phrase top-k with the WHOLE phrase occurrence tagged as one unit —
    the ES unified highlighter's phrase behavior (a match_phrase query
    highlights consecutive-token matches together, not word by word).

    Exact adjacency only: a sloppy (slop > 0) match admits gaps a single
    regex cannot bound by TOTAL displacement, so there is deliberately no
    slop parameter — highlight a sloppy match set per-term through
    :func:`highlight_hits` instead. Execution identical to
    :func:`highlight`: the phrase engine ranks, the ≤k hits broadcast-join
    the pruned source read, and the tag injection is one string expression."""
    from es_indexer_spark.analysis.tokenizer import split_lang_marker
    from es_indexer_spark.query.phrase import phrase_match

    terms, _marker = split_lang_marker(
        tokenize_one(phrase, open_index(spark, index_root).tokenizer, lang=lang)
    )
    hits = phrase_match(spark, index_root, phrase, k=k, lang=lang).select(
        "docid", "score"
    )
    return highlight_hits(
        hits, src, id_col, text_col, terms,
        fragment_size=fragment_size, pre_tag=pre_tag, post_tag=post_tag,
        pattern_body=phrase_pattern_body(terms),
    )
