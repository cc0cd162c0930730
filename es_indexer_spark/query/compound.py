"""ES compound queries — ``dis_max``, ``constant_score``, ``boosting`` —
composed onto the bool engine.

The reference's read surface is the ES query DSL over the portal index
(SURVEY.md §3.3; the DSL enters at
geonetwork4-api/.../GeoNetworkServiceImpl.java:114-120 and the portal's own
search requests against stacmodel/.../portal_records_index_schema.json).
These three are the remaining members of the DSL's "compound queries"
family; their semantics are public Lucene:

- ``dis_max`` (Lucene ``DisjunctionMaxQuery``): each sub-query is scored
  independently; a doc matching several takes the BEST sub-score plus
  ``tie_breaker`` times the rest:
  ``score = max_i(s_i) + tie * (sum_i(s_i) - max_i(s_i))``.
- ``constant_score`` (Lucene ``ConstantScoreQuery``): a filter-context
  query whose every match scores exactly ``boost``.
- ``boosting`` (Lucene ``BoostingQuery`` from the queries module): the
  ``positive`` query ranks; docs also matching ``negative`` keep their rank
  eligibility but have their score multiplied by ``negative_boost``
  (demotion without exclusion — the difference from ``must_not``).

Execution shape: each sub-query runs through :func:`bool_query`'s
single-shuffle shard evaluation (dictionary point lookup -> bucket-pruned
postings scan -> per-shard numpy scorer) with ``k=None`` so the per-clause
result is the full distributed (docid, score) set, never a driver
collection. Combination is then pure DataFrame algebra:

- ``dis_max``: unionByName over the clause results + one hash aggregation
  keyed on docid (partial+final map-side combine; the aggregate state is two
  doubles per docid). Matches Lucene's model — DisjunctionMaxQuery also
  drives each sub-scorer independently and merges on doc.
- ``boosting``: the negative set joins the positive scores on docid; at
  scale this is a shuffle join on the (already sparse) match sets, and AQE
  turns it into a broadcast when the negative side is small — the common
  case for a demotion query.

Both therefore cost one postings scan per clause (term-pruned, exactly the
clause's own posting volume) plus one docid-keyed exchange — no all-corpus
pass, no cross join, no driver state.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from es_indexer_spark.index.reader import open_index
from es_indexer_spark.query.boolean import bool_query

_SCORE_SCHEMA = "docid long, score double"


def dis_max(
    spark: SparkSession,
    index_root: str,
    queries: Sequence[str | DataFrame],
    *,
    tie_breaker: float = 0.0,
    k: int | None = 10,
    lang: str | None = None,
) -> DataFrame:
    """ES ``dis_max`` over sub-queries of the content field. Each entry of
    ``queries`` is analyzed like an ES ``match`` query (OR semantics: a doc
    matches the clause when it carries >=1 of the clause's terms; the clause
    score is the sum of its present terms' BM25 contributions — the same
    one-clause pure-should bool the engine already scores). A clause may
    also be a pre-scored ``(docid, score)`` DataFrame — the DSL passes any
    non-match sub-query through the compositional evaluator this way (round
    5h). Returns top-k (docid, score) with
    ``score = best + tie_breaker * (sum - best)``."""
    tie = float(tie_breaker)
    parts = [
        q.select("docid", "score") if isinstance(q, DataFrame)
        else bool_query(spark, index_root, should=[q], k=None, lang=lang)
        for q in queries
    ]
    if not parts:
        return spark.createDataFrame([], _SCORE_SCHEMA)
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    combined = u.groupBy("docid").agg(
        F.max("score").alias("_best"), F.sum("score").alias("_sum")
    )
    scored = combined.select(
        "docid",
        (F.col("_best") + F.lit(tie) * (F.col("_sum") - F.col("_best"))).alias(
            "score"
        ),
    )
    if k is None:
        return scored
    return scored.orderBy(F.desc("score"), F.asc("docid")).limit(k)


def constant_score(
    spark: SparkSession,
    index_root: str,
    *,
    filter_terms: Sequence[str] = (),
    filter_range: tuple[str, dict] | None = None,
    boost: float = 1.0,
    k: int | None = 10,
    lang: str | None = None,
    matches: DataFrame | None = None,
) -> DataFrame:
    """ES ``constant_score``: the wrapped filter (term and/or range, Lucene
    filter context — required, never BM25-scored) selects the docs; every
    match scores exactly ``boost``. Results are docid-ordered (all scores
    tie, and docid is ES's stable tiebreak). ``matches`` (a docid frame)
    replaces the built-in term/range filter for any other wrapped shape —
    the DSL passes composed filters through this seam (round 5h)."""
    if matches is None:
        matches = bool_query(
            spark,
            index_root,
            filter_terms=list(filter_terms),
            filter_range=filter_range,
            k=None,
            lang=lang,
        )
    out = matches.select("docid", F.lit(float(boost)).alias("score"))
    if k is None:
        return out
    return out.orderBy(F.asc("docid")).limit(k)


def boosting(
    spark: SparkSession,
    index_root: str,
    *,
    positive: str | DataFrame,
    negative: str | DataFrame,
    negative_boost: float = 0.5,
    k: int | None = 10,
    lang: str | None = None,
) -> DataFrame:
    """ES ``boosting`` query: ``positive`` is an ES ``match`` (OR) query that
    selects and scores; docs that ALSO match ``negative`` (any of its
    analyzed terms) are demoted — score multiplied by ``negative_boost`` —
    but never dropped. Top-k by the demoted score. Either side may be a
    pre-scored ``(docid, score)`` DataFrame (the DSL's composed-sub-query
    seam, round 5h)."""
    nb = float(negative_boost)
    pos = (
        positive.select("docid", "score") if isinstance(positive, DataFrame)
        else bool_query(spark, index_root, should=[positive], k=None, lang=lang)
    )
    neg = (
        (negative.select("docid") if isinstance(negative, DataFrame)
         else bool_query(spark, index_root, should=[negative], k=None,
                         lang=lang).select("docid"))
        .select("docid", F.lit(True).alias("_neg"))
        .distinct()
    )
    scored = (
        pos.join(neg, "docid", "left")
        .select(
            "docid",
            F.when(F.col("_neg"), F.col("score") * F.lit(nb))
            .otherwise(F.col("score"))
            .alias("score"),
        )
    )
    if k is None:
        return scored
    return scored.orderBy(F.desc("score"), F.asc("docid")).limit(k)


def terms_set(
    spark: SparkSession,
    index_root: str,
    terms: Sequence[str],
    *,
    minimum_should_match_expr: str,
    k: int | None = 10,
    lang: str | None = None,
) -> DataFrame:
    """ES ``terms_set`` query: match docs containing at least M of ``terms``,
    where M is PER-DOC — ES reads it from ``minimum_should_match_field`` (or
    a script); here it is a SQL expression over the index's stored meta
    columns (a bare field name is the ES field case). Matching docs score
    the sum of their present terms' BM25 contributions, exactly ES (the
    rewritten bool-should). Like ES, M is NOT clamped to ``len(terms)`` — a
    doc demanding more matches than the query has terms can never match.

    Execution shape: one term-pruned postings scan per term (each clause's
    own posting volume, same as any multi-term query) through
    :func:`bool_query`'s distributed path; one docid hash agg counts matched
    clauses and sums scores; the per-doc threshold joins in from the
    docs-store parquet scan (column-pruned to docid + the expression's
    inputs) on docid — AQE handles the build-side choice. No driver state."""
    clauses = [
        bool_query(spark, index_root, should=[t], k=None, lang=lang)
        for t in terms
    ]
    clauses = [c for c in clauses if c is not None]
    if not clauses:
        return spark.createDataFrame([], _SCORE_SCHEMA)
    u = clauses[0].withColumn("_c", F.lit(0))
    for i, c in enumerate(clauses[1:], start=1):
        u = u.unionByName(c.withColumn("_c", F.lit(i)))
    agg = u.groupBy("docid").agg(
        F.countDistinct("_c").alias("_matched"), F.sum("score").alias("score")
    )
    req = (
        open_index(spark, index_root).docs()
        .select("docid", F.expr(minimum_should_match_expr).cast("long").alias("_req"))
    )
    out = (
        agg.join(req, "docid")
        .filter(F.col("_matched") >= F.col("_req"))
        .select("docid", "score")
    )
    if k is None:
        return out
    return out.orderBy(F.desc("score"), F.asc("docid")).limit(k)


def match_bool_prefix(
    spark: SparkSession,
    index_root: str,
    text: str,
    *,
    k: int | None = 10,
    max_expansions: int = 50,
    lang: str | None = None,
) -> DataFrame:
    """ES ``match_bool_prefix``: analyze ``text``; every term but the last
    becomes a ``term`` SHOULD clause (BM25-scored), the last becomes a
    ``prefix`` SHOULD clause under Lucene's constant-score rewrite (every
    doc carrying any expansion contributes exactly 1.0 — the same rewrite
    the standalone ``prefix`` query uses here). Pure-should bool: any one
    clause qualifies a doc; score = BM25 sum over present full terms plus
    the prefix constant.

    The prefix clause expands against the term-sorted dictionary (capped at
    ``max_expansions``, highest-df kept) and its docids come from the same
    bucket-pruned postings scan as the standalone prefix query — the union
    with the scored clauses is one docid hash agg."""
    from es_indexer_spark.analysis.tokenizer import tokenize_one
    from es_indexer_spark.query.suggest import prefix_query

    toks = tokenize_one(text, open_index(spark, index_root).tokenizer, lang=lang)
    if not toks:
        return spark.createDataFrame([], _SCORE_SCHEMA)
    full, last = toks[:-1], toks[-1]
    legs = []
    if full:
        legs.append(
            bool_query(spark, index_root, should=list(full), k=None, lang=lang)
        )
    legs.append(
        prefix_query(
            spark, index_root, last,
            k=(1 << 31) - 1,  # "all": limit is a JVM int
            max_expansions=max_expansions,
        )
    )
    u = legs[0]
    for p in legs[1:]:
        u = u.unionByName(p)
    out = u.groupBy("docid").agg(F.sum("score").alias("score"))
    if k is None:
        return out
    return out.orderBy(F.desc("score"), F.asc("docid")).limit(k)


_DURATION_SECONDS = {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}
_DISTANCE_METERS = {"m": 1.0, "km": 1000.0, "mi": 1609.344}


def _duration_seconds(v) -> float:
    """ES duration literal ("7d", "12h", ...) -> seconds."""
    import re as _re

    m = _re.fullmatch(r"(\d+(?:\.\d+)?)(s|m|h|d|w)", str(v))
    if not m:
        raise ValueError(f"bad duration {v!r}: expected <n><s|m|h|d|w>")
    return float(m.group(1)) * _DURATION_SECONDS[m.group(2)]


def _geo_distance_meters(v) -> float:
    """ES distance literal ("100km", "500m", "10mi") -> meters."""
    import re as _re

    m = _re.fullmatch(r"(\d+(?:\.\d+)?)(km|mi|m)", str(v))
    if not m:
        raise ValueError(f"bad distance {v!r}: expected <n><m|km|mi>")
    return float(m.group(1)) * _DISTANCE_METERS[m.group(2)]


def function_score_functions(
    spark: SparkSession,
    index_root: str,
    query: str | DataFrame,
    functions: list[dict],
    *,
    k: int = 10,
    score_mode: str = "multiply",
    boost_mode: str = "multiply",
    max_boost: float | None = None,
    lang: str | None = None,
) -> DataFrame:
    """ES ``function_score`` with a ``functions`` ARRAY — the general form
    (the single-function ``field_value_factor`` shortcut lives in
    ``engine.function_score_topk``). Supported function kinds, each
    optionally gated by a ``filter`` (a stored-field leaf: term / terms /
    range / exists — compiled to a Catalyst predicate) and scaled by
    ``weight`` (a bare ``{"weight": w, "filter": ...}`` entry scores w,
    exactly ES):

    - ``field_value_factor``: modifier(factor * coalesce(field, missing));
    - ``random_score``: deterministic per-doc uniform [0, 1) from
      xxhash64(docid, seed) — reproducible where ES's is shard-dependent;
    - ``gauss`` / ``exp`` / ``linear`` decay
      ``{field: {origin, scale, offset: 0, decay: 0.5}}`` with the
      published ES formulas (sigma^2 = -scale^2 / (2 ln decay), etc.) in
      three origin modes: NUMERIC (plain numbers), DATE (origin a
      timestamp literal — pass an explicit instant, never "now", so
      replays stay deterministic — with "7d"-style duration scale/offset;
      the recency-boost shape), and GEO (origin ``{lat, lon}`` with
      "100km"-style distance scale/offset; the field names the LON column
      and ``lat_field`` its latitude pair, haversine meters).

    Functions whose filter does not match are EXCLUDED from the
    combination (ES semantics, not factor-1); if none match the function
    score is the neutral 1.0. ``score_mode`` combines the matching
    functions (multiply default / sum / avg / max / min / first),
    ``max_boost`` clamps the result, ``boost_mode`` combines with the
    query score (multiply default / sum / replace / max / min / avg).

    One pass: every match (k=None, no global sort) joins the referenced
    stored fields once; all function math is whole-stage-codegen column
    algebra (the array-combine is an ``aggregate`` over a compacted
    array literal — no UDF); scores round at 6 before ranking (the
    engine-wide ulp-stability rule), ties by docid."""
    from es_indexer_spark.query.dsl_aggs import _leaf_cond

    if score_mode not in ("multiply", "sum", "avg", "max", "min", "first"):
        raise ValueError(f"unknown score_mode {score_mode!r}")
    if boost_mode not in ("multiply", "sum", "replace", "max", "min", "avg"):
        raise ValueError(f"unknown boost_mode {boost_mode!r}")
    hits = (
        query.select("docid", "score") if isinstance(query, DataFrame)
        else bool_query(spark, index_root, should=[query], k=None, lang=lang)
    )
    docs = open_index(spark, index_root).docs()

    def _decay_value(kind: str, spec: dict) -> Column:
        (field, p), = spec.items()
        origin = p["origin"]
        decay = float(p.get("decay", 0.5))
        if not (0.0 < decay < 1.0):
            raise ValueError("decay needs 0 < decay < 1")
        if isinstance(origin, dict):
            # geo decay: origin {lat, lon}, the field names the LON column
            # and `lat_field` its latitude pair (the package's no-geo_point
            # column convention); scale/offset are "100km"-style distances,
            # dist is haversine meters
            scale = _geo_distance_meters(p["scale"])
            offset = _geo_distance_meters(p.get("offset", "0m"))
            lat_col = F.col(str(p.get("lat_field", "lat"))).cast("double")
            lon_col = F.col(field).cast("double")
            need_fields.add(str(p.get("lat_field", "lat")))
            rad = math.pi / 180.0
            dlat = (lat_col - F.lit(float(origin["lat"]))) * F.lit(rad)
            dlon = (lon_col - F.lit(float(origin["lon"]))) * F.lit(rad)
            a = (
                F.sin(dlat / 2) * F.sin(dlat / 2)
                + F.cos(F.lit(float(origin["lat"]) * rad)) * F.cos(lat_col * F.lit(rad))
                * F.sin(dlon / 2) * F.sin(dlon / 2)
            )
            raw_dist = F.lit(2.0 * 6371000.0) * F.asin(F.sqrt(a))
        elif isinstance(origin, str):
            # date decay (recency boosting): origin a timestamp literal,
            # scale/offset "7d"-style durations, dist in seconds. A cast
            # parses ISO "T" and bare-date forms, which unix_timestamp's
            # fixed pattern rejects under ANSI
            scale = _duration_seconds(p["scale"])
            offset = _duration_seconds(p.get("offset", "0s"))
            raw_dist = F.abs(
                F.col(field).cast("timestamp").cast("double")
                - F.lit(origin).cast("timestamp").cast("double")
            )
        else:
            scale = float(p["scale"])
            offset = float(p.get("offset", 0.0))
            raw_dist = F.abs(F.col(field).cast("double") - F.lit(float(origin)))
        if scale <= 0:
            raise ValueError("decay needs scale > 0")
        dist = F.greatest(F.lit(0.0), raw_dist - F.lit(offset))
        if kind == "gauss":
            sigma2 = -(scale * scale) / (2.0 * math.log(decay))
            v = F.exp(-(dist * dist) / F.lit(2.0 * sigma2))
        elif kind == "exp":
            lam = math.log(decay) / scale
            v = F.exp(F.lit(lam) * dist)
        else:
            s = scale / (1.0 - decay)
            v = F.greatest(F.lit(0.0), (F.lit(s) - dist) / F.lit(s))
        # ES scores a decay over a missing field 1.0: the function still
        # takes part in score_mode (a null would be dropped with the
        # non-matching filters), before its weight and filter gate apply
        return F.coalesce(v, F.lit(1.0))

    vals: list[Column] = []
    need_fields: set[str] = set()

    def _filter_fields(node: dict) -> set[str]:
        from es_indexer_spark.query.dsl import _one

        kind, v = _one(node, "function filter")
        if kind == "exists":
            return {str(v["field"])}
        fname, _spec = _one(v, kind)
        return {str(fname)}

    for fn in functions:
        if "field_value_factor" in fn:
            fvf = fn["field_value_factor"]
            x = F.coalesce(
                F.col(fvf["field"]).cast("double"),
                F.lit(float(fvf.get("missing", 1.0))),
            ) * F.lit(float(fvf.get("factor", 1.0)))
            need_fields.add(str(fvf["field"]))
            mod = str(fvf.get("modifier", "none"))
            v = {
                "none": x,
                "ln1p": F.log(F.lit(1.0) + x),
                "log1p": F.log10(F.lit(1.0) + x),
                "sqrt": F.sqrt(x),
                "square": x * x,
            }.get(mod)
            if v is None:
                raise ValueError(f"unknown field_value_factor modifier {mod!r}")
        elif "random_score" in fn:
            rs = fn["random_score"] or {}
            seed = int(rs.get("seed", 0))
            v = (
                F.pmod(F.xxhash64(F.col("docid"), F.lit(seed)), F.lit(1 << 30))
                .cast("double") / F.lit(float(1 << 30))
            )
        elif "gauss" in fn:
            need_fields.update(fn["gauss"].keys())
            v = _decay_value("gauss", fn["gauss"])
        elif "exp" in fn:
            need_fields.update(fn["exp"].keys())
            v = _decay_value("exp", fn["exp"])
        elif "linear" in fn:
            need_fields.update(fn["linear"].keys())
            v = _decay_value("linear", fn["linear"])
        else:
            v = F.lit(1.0)
        if fn.get("weight") is not None:
            v = v * F.lit(float(fn["weight"]))
        if fn.get("filter") is not None:
            need_fields.update(_filter_fields(fn["filter"]))
            v = F.when(_leaf_cond(fn["filter"]), v)
        vals.append(v)

    missing_cols = sorted(need_fields - set(docs.columns))
    if missing_cols:
        raise ValueError(
            f"function_score references unstored fields {missing_cols} — "
            "store them as meta_cols at build time"
        )
    j = hits.join(docs.select("docid", *sorted(need_fields)), "docid")
    nn = F.filter(F.array(*vals), lambda x: x.isNotNull())
    if score_mode == "multiply":
        comb = F.aggregate(nn, F.lit(1.0), lambda acc, x: acc * x)
    elif score_mode == "sum":
        comb = F.aggregate(nn, F.lit(0.0), lambda acc, x: acc + x)
    elif score_mode == "avg":
        comb = (
            F.aggregate(nn, F.lit(0.0), lambda acc, x: acc + x)
            / F.size(nn).cast("double")
        )
    elif score_mode == "max":
        comb = F.array_max(nn)
    elif score_mode == "min":
        comb = F.array_min(nn)
    else:  # first: request order, like ES's first_function
        comb = F.element_at(nn, 1)
    fscore = F.when(F.size(nn) == 0, F.lit(1.0)).otherwise(comb)
    if max_boost is not None:
        fscore = F.least(fscore, F.lit(float(max_boost)))
    base = F.col("score")
    combined = {
        "multiply": base * fscore,
        "sum": base + fscore,
        "replace": fscore,
        "max": F.greatest(base, fscore),
        "min": F.least(base, fscore),
        "avg": (base + fscore) / F.lit(2.0),
    }[boost_mode]
    return (
        j.select("docid", F.round(combined, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(k)
    )
