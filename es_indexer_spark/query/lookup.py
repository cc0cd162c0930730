"""Point reads and resumable ordered scans over the doc table — the native
analogs of the reference's non-ranked query surface (SURVEY.md §3.3):

- ``ids`` point lookup by _id (IndexerMetadataServiceImpl.java:122-127,
  getDocumentByUUID IndexerController.java:116-142) -> :func:`doc_lookup`;
- ``match_all`` + sort + ``search_after`` keyset pagination
  (GeoNetworkServiceImpl.java:586-604, page size 100) -> :func:`scan_after`;
- ``term`` exact keyword match with its two reference call shapes — hit count
  and size(1) first-id (ElasticSearchIndexService.java:54-78) ->
  :func:`term_query`;
- ``_analyze`` tokenization service (IndexerMetadataServiceImpl.java:177-195)
  -> :func:`analyze_df`.

Physical behavior: the docs table is written range-partitioned and sorted by
docid, so both operators reduce to parquet min/max row-group pruning — a point
or range read, never a full scan.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from es_indexer_spark.index.reader import open_index


def doc_lookup(
    spark: SparkSession, index_root: str, docids: Sequence[int]
) -> DataFrame:
    """Fetch doc rows by exact docid (the `ids` query analog). The isin filter
    is pushed to parquet; docid-sorted files make it a row-group point read."""
    r = open_index(spark, index_root)
    df = r.docs().filter(F.col("docid").isin([int(d) for d in docids]))
    # a logically deleted doc is gone from every read surface immediately
    # (the reference's deleteDocumentByUUID contract)
    return r.live(df)


def mget(
    spark: SparkSession,
    index_root: str,
    ids: Sequence[int],
    id_field: str = "docid",
) -> DataFrame:
    """ES ``_mget``: one row PER REQUESTED id, in request order, with a
    ``found`` flag — unlike :func:`doc_lookup` (the ``ids`` query), a missing
    or logically-deleted doc still yields its ``(req_idx, id, found=false)``
    row, exactly like the ES response's per-id entries
    (the reference issues per-UUID GETs in a loop —
    IndexerController.java:116-142; ``_mget`` is the batched form every
    ES client substitutes for that loop).

    Physical plan: the request list is a driver-local literal (requests are
    O(k)) broadcast-left-joined against the docs scan, which keeps the
    ``isin`` pushdown — docid-sorted files make the scan a row-group point
    read, and the big side is never shuffled. ``id_field`` defaults to
    ``docid`` (== the external id for ``id_col``-built indexes); pass a meta
    column name for indexes that carry the external id as metadata."""
    r = open_index(spark, index_root)
    vals = [int(d) for d in ids]
    req = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "req_idx long, __req_id long"
    )
    # deleted docs are "not found" on every read surface immediately
    docs = r.live(r.docs().filter(F.col(id_field).isin(vals)))
    keep = [c for c in docs.columns if c != id_field]
    out = (
        req.join(
            F.broadcast(docs), req["__req_id"] == docs[id_field], "left"
        )
        .select(
            "req_idx",
            F.col("__req_id").alias(id_field),
            docs[id_field].isNotNull().alias("found"),
            *keep,
        )
        .orderBy("req_idx")
    )
    return out


def scan_after(
    spark: SparkSession,
    index_root: str,
    after: int | None = None,
    page_size: int = 100,
) -> DataFrame:
    """One page of the docid-ordered scan, resuming strictly after ``after``
    (keyset pagination — the `search_after` analog; the caller passes the last
    docid of the previous page as the next resume token)."""
    r = open_index(spark, index_root)
    df = r.docs()
    if after is not None:
        df = df.filter(F.col("docid") > int(after))
    return r.live(df).orderBy(F.asc("docid")).limit(page_size)


def _docs_where(
    spark: SparkSession, index_root: str, pred, size: int | None
) -> DataFrame:
    """Shared tail of the non-ranked predicate queries (term/terms/exists/
    range): predicate pushed into the docs-store parquet scan
    (dictionary/row-group pruning), tombstone-aware, docid-ordered so
    size(1) is deterministic."""
    r = open_index(spark, index_root)
    df = r.live(r.docs().filter(pred)).orderBy(F.asc("docid"))
    return df.limit(size) if size is not None else df


def term_query(
    spark: SparkSession,
    index_root: str,
    field: str,
    value: str,
    size: int | None = None,
) -> DataFrame:
    """Exact (untokenized) keyword match on a stored meta field — the ES
    ``term`` query. ``size=1`` reproduces the reference's first-id probe;
    ``size=None`` fetches all hits."""
    return _docs_where(spark, index_root, F.col(field) == value, size)


_RANGE_OPS = ("gte", "gt", "lte", "lt")


def check_range_bounds(bounds: dict) -> None:
    """ES ``range`` bounds are a non-empty subset of gte/gt/lte/lt."""
    if set(bounds) - set(_RANGE_OPS) or not bounds:
        raise ValueError(f"range bounds must be a non-empty subset of {_RANGE_OPS}")


def range_pred(field: str, bounds: dict) -> "F.Column":
    """ES ``range`` bounds (gte/gt/lte/lt, any subset) as one Column
    predicate — a plain comparison conjunction, so parquet min/max row-group
    pruning applies to every bound."""
    check_range_bounds(bounds)
    c = F.col(field)
    p = None
    for op, v in bounds.items():
        e = {"gte": c >= v, "gt": c > v, "lte": c <= v, "lt": c < v}[op]
        p = e if p is None else (p & e)
    return p


def range_query(
    spark: SparkSession,
    index_root: str,
    field: str,
    bounds: dict,
    size: int | None = None,
) -> DataFrame:
    """ES ``range`` query on a stored (numeric/date/keyword) field — e.g.
    ``range_query(spark, root, "n_chars", {"gte": 200, "lt": 800})``.
    Standalone range context is non-scoring in ES (constant score); the
    bounds push into the parquet scan (docid-sorted files + column min/max
    stats = row-group pruning)."""
    return _docs_where(spark, index_root, range_pred(field, bounds), size)


def terms_query(
    spark: SparkSession,
    index_root: str,
    field: str,
    values: Sequence,
    size: int | None = None,
) -> DataFrame:
    """ES ``terms`` query: exact keyword match against ANY of ``values``
    (the multi-value form of ``term``); the isin pushes as an In filter."""
    return _docs_where(spark, index_root, F.col(field).isin(list(values)), size)


def script_query(
    spark: SparkSession,
    index_root: str,
    expr: str,
    size: int | None = None,
) -> DataFrame:
    """ES ``script`` query: a filter-context boolean predicate over stored
    fields. The Painless slot takes a Catalyst SQL expression (the engine's
    standing translation — README divergences), so Catalyst can still fold
    constants and prune columns; a predicate over plain columns even pushes
    to parquet like any other filter. ``script_query(spark, root,
    "n_chars % 7 = 0 AND lang IN ('en','fr')")``."""
    return _docs_where(spark, index_root, F.expr(expr), size)


def exists_query(
    spark: SparkSession,
    index_root: str,
    field: str,
    size: int | None = None,
) -> DataFrame:
    """ES ``exists`` query: docs whose stored ``field`` is non-null (parquet
    null-count statistics prune all-null row groups)."""
    return _docs_where(spark, index_root, F.col(field).isNotNull(), size)


def term_count(
    spark: SparkSession, index_root: str, field: str, value: str
) -> DataFrame:
    """Hit count of a ``term`` query (the reference's ES count call) as a
    1-row DataFrame — a map-side pre-aggregated count over the pruned scan."""
    return term_query(spark, index_root, field, value).agg(
        F.count("*").alias("doc_count")
    )


def terms_enum(
    spark: SparkSession,
    index_root: str,
    field: str,
    string: str = "",
    size: int = 10,
    *,
    case_insensitive: bool = False,
    search_after: str | None = None,
) -> DataFrame:
    """ES ``_terms_enum``: up to ``size`` index terms of ``field`` starting
    with ``string``, lexicographically ASCENDING (the autocomplete-on-keyword
    API; unlike :func:`~es_indexer_spark.query.suggest.suggest_prefix`, which
    ranks by collection frequency). ``search_after`` resumes past the last
    term of the previous page.

    ``field`` naming: a stored meta column of the docs table enumerates its
    DISTINCT values; any other name addresses the analyzed content field —
    its terms come straight off the term dictionary. Like ES's published
    caveat, dictionary terms may still include logically deleted docs' terms
    until compaction (``_terms_enum`` is index-structure-based there too).

    Physical plan: the dict is term-sorted parquet, so the prefix is a pushed
    ``StringStartsWith`` over contiguous row groups; the meta path is a
    column-pruned scan + partial/final distinct. Both end in a k-row
    TakeOrdered — no corpus-sized sort."""
    r = open_index(spark, index_root)
    docs = r.docs()
    if field in docs.columns and field not in ("docid", "sha256", "doc_len"):
        src = (
            docs.where(F.col(field).isNotNull())
            .select(F.col(field).cast("string").alias("term"))
            .distinct()
        )
    else:
        src = spark.read.parquet(os.path.join(r.vdir, "dict")).select("term")
    p = str(string or "")
    if case_insensitive:
        pred = F.lower(F.col("term")).startswith(p.lower())
    else:
        pred = F.col("term").startswith(p)
    out = src.filter(pred) if p else src
    if search_after is not None:
        out = out.filter(F.col("term") > str(search_after))
    return out.orderBy(F.asc("term")).limit(int(size))


def facet_counts(
    spark: SparkSession,
    index_root: str,
    field: str,
    size: int = 10,
) -> DataFrame:
    """ES ``terms`` aggregation over a stored keyword field (the portal's
    filter facets — e.g. per-language or per-source bucket counts). A
    partial+final hash aggregation over the column-pruned docs scan; buckets
    ordered by doc_count desc then key asc (ES terms-agg ordering),
    tombstone-aware like every other read surface."""
    r = open_index(spark, index_root)
    return (
        r.live(r.docs().select(field, "docid"))
        .groupBy(field)
        .agg(F.count("*").alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc(field))
        .limit(size)
    )


def analyze_df(
    df: DataFrame,
    text_col: str,
    id_col: str,
    tokenizer: str = "standard",
    lang_col: str | None = None,
) -> DataFrame:
    """The ``_analyze`` service as a set-returning operator: one row per
    (id, position, token) through the same analysis chain the index build
    uses. For the ``standard`` chain this stays whole-stage-codegen column
    algebra (split + filter + posexplode — no Python); other chains go
    through the tokenizer's Arrow UDF (``code`` consumes ``lang_col`` for
    lang-tagged terms)."""
    if tokenizer == "standard":
        toks = F.filter(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
            lambda x: x != F.lit(""),
        )
    else:
        from es_indexer_spark.analysis.tokenizer import get_tokenizer_udf

        udf = get_tokenizer_udf(tokenizer)
        if tokenizer == "code":
            lang = F.col(lang_col) if lang_col else F.lit(None).cast("string")
            toks = udf(F.col(text_col), lang)
        else:
            toks = udf(F.col(text_col))
    return df.select(F.col(id_col), F.posexplode(toks).alias("position", "token"))


def term_vectors(
    spark: SparkSession,
    index_root: str,
    text: str,
    *,
    lang: str | None = None,
) -> DataFrame:
    """ES ``_termvectors`` for an ARTIFICIAL document (the doc body comes in
    the request — ES's own shape for un-stored docs; the stored-doc variant
    would need a forward index this engine deliberately does not keep, and
    ES re-analyzes ``_source`` there too). One row per term of the analyzed
    text: ``term_freq``, 0-based ``positions``, plus the field statistics
    the real corpus provides — ``doc_freq`` and ``ttf`` (total term
    frequency) from the broadcast dictionary; terms absent from the corpus
    report 0/0, as ES does for unseen terms.

    Work: O(|text|) driver-side analysis (bytes of one request, never data)
    + ONE pruned dictionary lookup joined broadcast."""
    from es_indexer_spark.analysis.tokenizer import split_lang_marker, tokenize_one

    r = open_index(spark, index_root)
    toks, _marker = split_lang_marker(tokenize_one(text, r.tokenizer, lang=lang))
    tv: dict[str, list[int]] = {}
    for pos, t in enumerate(toks):
        tv.setdefault(t, []).append(pos)
    found = {row["term"]: row for row in r.lookup(sorted(tv))}
    rows = [
        (
            t,
            len(ps),
            ps,
            int(found[t]["df"]) if t in found else 0,
            int(found[t]["cf"]) if t in found else 0,
        )
        for t, ps in sorted(tv.items())
    ]
    return spark.createDataFrame(
        rows,
        "term string, term_freq int, positions array<int>, "
        "doc_freq long, ttf long",
    )


def mterm_vectors(
    spark: SparkSession,
    index_root: str,
    docs: dict,
    *,
    lang: str | None = None,
) -> DataFrame:
    """ES ``_mtermvectors`` for a batch of artificial docs (``{doc_key:
    text}``): the batched form of :func:`term_vectors`, amortized the way
    the batch API exists to be — the UNION of all docs' terms goes through
    ONE pruned dictionary lookup instead of one per doc. Output adds a
    ``doc_key`` column; per-doc rows match ``term_vectors`` exactly."""
    from es_indexer_spark.analysis.tokenizer import split_lang_marker, tokenize_one

    r = open_index(spark, index_root)
    per_doc: dict = {}
    all_terms: set[str] = set()
    for key, text in docs.items():
        toks, _marker = split_lang_marker(tokenize_one(text, r.tokenizer, lang=lang))
        tv: dict[str, list[int]] = {}
        for pos, t in enumerate(toks):
            tv.setdefault(t, []).append(pos)
        per_doc[key] = tv
        all_terms.update(tv)
    found = {row["term"]: row for row in r.lookup(sorted(all_terms))}
    rows = [
        (
            str(key),
            t,
            len(ps),
            ps,
            int(found[t]["df"]) if t in found else 0,
            int(found[t]["cf"]) if t in found else 0,
        )
        for key, tv in per_doc.items()
        for t, ps in sorted(tv.items())
    ]
    return spark.createDataFrame(
        rows,
        "doc_key string, term string, term_freq int, positions array<int>, "
        "doc_freq long, ttf long",
    )
