"""ES search aggregations over any table or the live docs store.

The reference delegates every analytics question to ES's ``aggs`` block
(the portal facets over ``portal_records_index_schema.json`` fields; the
``terms`` facet is query/lookup.py:facet_counts). This module adds the rest
of the ES aggregation family a portal user would reach for, each as pure
Catalyst column algebra — partial+final hash aggregation, no Python in the
data path, so every one of them is a single map-side-combined shuffle at any
scale:

- :func:`date_histogram`    — ES ``date_histogram`` (calendar_interval);
- :func:`histogram`         — ES ``histogram`` (fixed numeric interval,
  bucket key = floor(value/interval)*interval, exactly ES's bucketing);
- :func:`stats_agg`         — ES ``stats`` (count/min/max/avg/sum);
- :func:`extended_stats_agg`— ES ``extended_stats`` (+ sum_of_squares,
  population variance/std — ES reports population moments);
- :func:`cardinality_agg`   — ES ``cardinality``: ES runs HyperLogLog++;
  Spark's ``approx_count_distinct`` is the same HLL++ sketch, so the
  ``exact=False`` default IS the ES behavior (mergeable sketch, bounded
  memory at any cardinality). ``exact=True`` is the auditable path;
- :func:`percentiles_agg`   — ES ``percentiles``: ES runs t-digest; the
  ``exact=False`` default maps to Spark's ``percentile_approx`` (also a
  mergeable quantile sketch). ``exact=True`` = interpolated exact quantiles;
- :func:`top_hits_by_bucket`— ES ``terms`` + ``top_hits`` sub-aggregation
  (rank window inside each bucket; per-bucket k, never a global sort);
- :func:`date_histogram_stats` — bucket agg with a metric sub-aggregation
  (ES nests sub-aggs under buckets; on Spark that is the SAME single
  groupBy — no second pass).

Scale notes: bucket aggs shuffle one row per bucket after map-side combine;
the sketch aggs (HLL++, percentile_approx) keep executor memory constant
regardless of distinct-count, which is why they are the default — at 100 TB
an exact count-distinct is a full shuffle of the key column, a sketch is a
few KB per partition. ``top_hits_by_bucket`` shuffles on the bucket key
only; a skewed bucket still ranks in one task, which matches ES (a hot term
bucket lives on one shard-coordinator too) — salt upstream if a single
bucket exceeds a task's memory.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from es_indexer_spark.index.reader import open_index

_INTERVALS = ("year", "quarter", "month", "week", "day", "hour", "minute")


def index_docs(spark: SparkSession, index_root: str) -> DataFrame:
    """The live docs store of a published index — the frame ES aggregations
    run over when the search targets the index (tombstone-aware like every
    read surface)."""
    r = open_index(spark, index_root)
    return r.live(r.docs())


def date_histogram(
    df: DataFrame,
    ts_col: str,
    interval: str = "month",
    min_doc_count: int = 1,
) -> DataFrame:
    """ES ``date_histogram`` with a calendar interval: one row per truncated
    bucket with its doc_count, bucket-key ascending. ``min_doc_count=0``
    (emit empty buckets) needs a generated calendar — not reproduced; ES's
    default of dropping empty buckets is ``min_doc_count=1``."""
    if interval not in _INTERVALS:
        raise ValueError(f"interval must be one of {_INTERVALS}")
    out = (
        df.groupBy(F.date_trunc(interval, F.col(ts_col)).alias("bucket"))
        .agg(F.count("*").alias("doc_count"))
        .orderBy("bucket")
    )
    if min_doc_count > 1:
        out = out.filter(F.col("doc_count") >= min_doc_count)
    return out


def histogram(df: DataFrame, col: str, interval: float) -> DataFrame:
    """ES ``histogram``: fixed-width numeric buckets keyed at
    floor(value/interval)*interval (ES's exact bucket-key rule, correct for
    negative values too), ascending."""
    if not interval > 0:
        raise ValueError("histogram interval must be > 0")
    key = F.floor(F.col(col) / F.lit(float(interval))) * F.lit(float(interval))
    return (
        df.groupBy(key.alias("bucket"))
        .agg(F.count("*").alias("doc_count"))
        .orderBy("bucket")
    )


def stats_agg(df: DataFrame, col: str, ndigits: int = 6) -> DataFrame:
    """ES ``stats``: one row of count/min/max/avg/sum. Rounded so the result
    is replay-stable across summation orders (floating sums are
    order-dependent under parallel reduce)."""
    c = F.col(col)
    return df.agg(
        F.count(c).alias("count"),
        F.min(c).alias("min"),
        F.max(c).alias("max"),
        F.round(F.avg(c), ndigits).alias("avg"),
        F.round(F.sum(c), ndigits).alias("sum"),
    )


def extended_stats_agg(df: DataFrame, col: str, ndigits: int = 4) -> DataFrame:
    """ES ``extended_stats``: stats plus sum_of_squares and POPULATION
    variance/std (ES's reported moments are population, not sample)."""
    c = F.col(col)
    return df.agg(
        F.count(c).alias("count"),
        F.min(c).alias("min"),
        F.max(c).alias("max"),
        F.round(F.avg(c), ndigits).alias("avg"),
        F.round(F.sum(c), ndigits).alias("sum"),
        F.round(F.sum(c * c), ndigits).alias("sum_of_squares"),
        F.round(F.var_pop(c), ndigits).alias("variance"),
        F.round(F.stddev_pop(c), ndigits).alias("std_deviation"),
    )


def cardinality_agg(
    df: DataFrame, col: str, exact: bool = False, rsd: float = 0.05
) -> DataFrame:
    """ES ``cardinality``. Default = the ES path: HyperLogLog++ sketch
    (``approx_count_distinct``, relative error ``rsd``) — mergeable,
    constant memory, the only viable shape at web scale. ``exact=True``
    shuffles the distinct keys (auditable, and what the SQL oracle
    replays)."""
    c = F.col(col)
    v = F.count_distinct(c) if exact else F.approx_count_distinct(c, rsd)
    return df.agg(v.alias("value"))


def percentiles_agg(
    df: DataFrame,
    col: str,
    percents: Sequence[float] = (25.0, 50.0, 75.0, 95.0, 99.0),
    exact: bool = False,
    ndigits: int = 6,
) -> DataFrame:
    """ES ``percentiles`` — long format: one row per requested percent.
    Default = sketch (``percentile_approx``, the t-digest analog); ES also
    documents its percentiles as approximate. ``exact=True`` = interpolated
    exact quantiles (Spark ``percentile`` ≡ SQL ``quantile_cont``)."""
    fracs = [float(p) / 100.0 for p in percents]
    arr = F.array(*[F.lit(f) for f in fracs])
    q = (
        F.percentile(F.col(col), arr)
        if exact
        else F.percentile_approx(F.col(col), arr)
    )
    one = df.agg(q.alias("_q")).select(F.posexplode("_q").alias("pos", "value"))
    pmap = F.array(*[F.lit(float(p)) for p in percents])
    return one.select(
        F.element_at(pmap, F.col("pos") + 1).alias("percent"),
        F.round(F.col("value"), ndigits).alias("value"),
    )


def top_hits_by_bucket(
    df: DataFrame,
    bucket_col: str,
    sort_col: str,
    n: int = 3,
    descending: bool = True,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """ES ``terms`` bucket agg with a ``top_hits`` sub-aggregation: the top-n
    rows of every bucket by ``sort_col``. One rank window partitioned by the
    bucket — per-bucket top-k, no global sort; ties broken by
    ``tiebreak_col`` (required for deterministic output when sort values
    repeat)."""
    s = F.col(sort_col)
    order = [s.desc() if descending else s.asc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(bucket_col).orderBy(*order)
    return (
        df.withColumn("hit_rank", F.row_number().over(w))
        .filter(F.col("hit_rank") <= n)
    )


def composite_agg(
    df: DataFrame,
    sources: Sequence[str],
    size: int = 10,
    after: Sequence | None = None,
    metric_exprs: Sequence[Column] | None = None,
) -> DataFrame:
    """ES ``composite`` aggregation: bucket on a key tuple, returned in key
    order, paginated with ``after`` (the last bucket key of the previous
    page). THIS is ES's answer to unbounded-cardinality bucket aggs — and
    the same property holds here: each page is a groupBy + keyset filter +
    limit, so no single response ever materializes the full bucket set, no
    matter how many distinct keys exist. The ``after`` tuple filter is a
    lexicographic keyset predicate (same construction as search_after),
    evaluated before the limit so Spark's TakeOrderedAndProject keeps only
    ``size`` buckets per partition."""
    if not sources:
        raise ValueError("composite_agg needs at least one source column")
    # ES composite default missing_bucket=false: docs with a null source key
    # form no bucket. (This also keeps the keyset filter total — a null in an
    # after-tuple would null out the comparison and silently end pagination.)
    for s in sources:
        df = df.filter(F.col(s).isNotNull())
    # metric_exprs: already-aliased metric sub-aggregation columns — they
    # ride the same partial+final hash agg, so children cost no extra pass
    out = df.groupBy(*[F.col(s) for s in sources]).agg(
        F.count("*").alias("doc_count"), *(metric_exprs or [])
    )
    if after is not None:
        if len(after) != len(sources):
            raise ValueError("after must have one value per source")
        # lexicographic strictly-greater: (a > x) or (a = x and b > y) or ...
        pred = None
        for i in range(len(sources)):
            eq = None
            for j in range(i):
                e = F.col(sources[j]) == F.lit(after[j])
                eq = e if eq is None else (eq & e)
            gt = F.col(sources[i]) > F.lit(after[i])
            term = gt if eq is None else (eq & gt)
            pred = term if pred is None else (pred | term)
        out = out.filter(pred)
    return out.orderBy(*[F.asc(s) for s in sources]).limit(size)


def significant_terms(
    df: DataFrame,
    text_col: str,
    foreground: "F.Column",
    size: int = 10,
    min_doc_count: int = 3,
) -> DataFrame:
    """ES ``significant_terms`` over an analyzed text field: terms unusually
    frequent in the ``foreground`` doc set relative to the whole corpus,
    scored with the published JLH heuristic
    ``(fg_pct - bg_pct) * (fg_pct / bg_pct)`` over document frequencies.
    Ties broken by term asc; ``min_doc_count`` suppresses noise terms (ES
    default 3).

    One pass over the tokens: per-term foreground and background distinct-doc
    counts come from the SAME partial+final aggregation (conditional count);
    the two corpus totals are a separate column-pruned aggregate folded into
    the SAME lazy plan via a broadcast cross-join — nothing executes until
    the result is consumed, like every other agg here. An empty foreground
    yields an empty result (every fg_count is 0 < min_doc_count)."""
    if min_doc_count < 1:
        raise ValueError("min_doc_count must be >= 1")
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda x: x != F.lit("")
    )
    fg_flag = F.when(foreground, F.lit(1)).otherwise(F.lit(0))
    per_doc = (
        df.select(fg_flag.alias("_fg"), F.explode(F.array_distinct(toks)).alias("term"))
    )
    totals = df.agg(
        F.coalesce(F.sum(fg_flag), F.lit(0)).cast("double").alias("_nf"),
        F.count("*").cast("double").alias("_na"),
    )
    counts = per_doc.groupBy("term").agg(
        F.sum("_fg").alias("fg_count"),
        F.count("*").alias("bg_count"),
    )
    fg_pct = F.col("fg_count") / F.col("_nf")
    bg_pct = F.col("bg_count") / F.col("_na")
    return (
        counts.crossJoin(F.broadcast(totals))
        .filter(F.col("fg_count") >= min_doc_count)
        .select(
            "term",
            F.col("fg_count").cast("long").alias("fg_count"),
            F.col("bg_count").cast("long").alias("bg_count"),
            F.round((fg_pct - bg_pct) * (fg_pct / bg_pct), 8).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(size)
    )


def date_histogram_stats(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    interval: str = "month",
    ndigits: int = 6,
) -> DataFrame:
    """ES bucket aggregation with a metric sub-aggregation (``date_histogram``
    wrapping ``stats``): per-bucket count/min/max/avg/sum in the SAME single
    partial+final groupBy — ES's nested-agg tree flattens to one shuffle."""
    if interval not in _INTERVALS:
        raise ValueError(f"interval must be one of {_INTERVALS}")
    v = F.col(value_col)
    return (
        df.groupBy(F.date_trunc(interval, F.col(ts_col)).alias("bucket"))
        .agg(
            F.count("*").alias("doc_count"),
            F.min(v).alias("min"),
            F.max(v).alias("max"),
            F.round(F.avg(v), ndigits).alias("avg"),
            F.round(F.sum(v), ndigits).alias("sum"),
        )
        .orderBy("bucket")
    )


def range_agg(
    df: DataFrame, col: str, ranges: list[tuple[float | None, float | None]]
) -> DataFrame:
    """ES ``range`` aggregation: one bucket per (from, to) half-open range
    [from, to) — ES's exact bound rule — keyed "from-to" with None rendered
    as "*" (the ES unbounded key form). Buckets may overlap (a doc counts in
    every range it falls in, as in ES), so this is a union of filtered
    counts, not a partition: one conditional-sum pass, no per-range scan."""
    if not ranges:
        raise ValueError("range_agg needs at least one range")
    aggs = []
    for lo, hi in ranges:
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(col) >= float(lo))
        if hi is not None:
            cond = cond & (F.col(col) < float(hi))
        key = f"{'*' if lo is None else lo}-{'*' if hi is None else hi}"
        aggs.append(F.sum(cond.cast("long")).alias(key))
    row = df.agg(*aggs)
    # unpivot to ES's bucket-list shape: (key, doc_count) per range, in the
    # caller's range order (ES preserves request order)
    pairs = [x for lo_hi in zip(
        [f"{'*' if lo is None else lo}-{'*' if hi is None else hi}" for lo, hi in ranges],
        range(len(ranges)),
    ) for x in lo_hi]
    stack_args = ", ".join(
        f"'{k}', bigint(`{k}`), {i}" for k, i in zip(pairs[::2], pairs[1::2])
    )
    return (
        row.selectExpr(
            f"stack({len(ranges)}, {stack_args}) as (key, doc_count, _ord)"
        )
        .orderBy("_ord")
        .select("key", "doc_count")
    )


def filters_agg(df: DataFrame, filters: dict[str, "F.Column"]) -> DataFrame:
    """ES ``filters`` aggregation: one named bucket per predicate (buckets
    may overlap). One conditional-sum pass over the input — never one scan
    per filter. Keys returned in request order (ES semantics)."""
    if not filters:
        raise ValueError("filters_agg needs at least one filter")
    row = df.agg(
        *[F.sum(c.cast("long")).alias(name) for name, c in filters.items()]
    )
    stack_args = ", ".join(
        f"'{name}', bigint(`{name}`), {i}" for i, name in enumerate(filters)
    )
    return (
        row.selectExpr(
            f"stack({len(filters)}, {stack_args}) as (key, doc_count, _ord)"
        )
        .orderBy("_ord")
        .select("key", "doc_count")
    )


# ------------------------------------------------------------- pipeline aggs
# ES pipeline aggregations (public ES surface: derivative / cumulative_sum /
# moving_fn / bucket_sort over a parent histogram's buckets). Scale note: a
# pipeline agg runs over the BUCKET table, whose row count is bounded by the
# time range / interval (thousands, not corpus-sized), so the unpartitioned
# ordered window below is a deliberate, safe choice at any corpus scale —
# the corpus-sized work already happened in the parent aggregation.


def derivative(buckets: DataFrame, metric: str, *, bucket_col: str = "bucket") -> DataFrame:
    """ES ``derivative``: per bucket, metric minus the previous bucket's
    metric in bucket order; the first bucket gets NULL (ES omits it)."""
    w = Window.orderBy(bucket_col)
    return buckets.withColumn(
        f"{metric}_deriv", F.col(metric) - F.lag(metric).over(w)
    )


def cumulative_sum(buckets: DataFrame, metric: str, *, bucket_col: str = "bucket") -> DataFrame:
    """ES ``cumulative_sum``: running total of the metric in bucket order."""
    w = Window.orderBy(bucket_col).rowsBetween(Window.unboundedPreceding, 0)
    return buckets.withColumn(f"{metric}_cumsum", F.sum(metric).over(w))


def moving_avg(
    buckets: DataFrame, metric: str, *, window: int = 3, bucket_col: str = "bucket"
) -> DataFrame:
    """ES ``moving_fn`` with the unweightedAvg shape: average of the metric
    over the trailing ``window`` buckets (current included — ES
    ``shift=1``-style trailing window), partial at the head like ES."""
    if window < 1:
        raise ValueError("window must be >= 1")
    w = Window.orderBy(bucket_col).rowsBetween(-(window - 1), 0)
    return buckets.withColumn(
        f"{metric}_mavg", F.avg(F.col(metric).cast("double")).over(w)
    )


def rare_terms(
    spark: SparkSession,
    index_root: str,
    *,
    max_doc_count: int = 1,
    limit: int | None = None,
) -> DataFrame:
    """ES ``rare_terms`` aggregation over the indexed content field: terms
    whose document frequency is at most ``max_doc_count``, ordered by
    (doc_count asc, term asc) — ES's "long tail" facet, the inverse of the
    ``terms`` agg ordering.

    ES computes this with a CuckooFilter sweep over shard term dictionaries;
    here the published index ALREADY materializes exact per-term df in the
    term-sorted dict parquet, so this is one column-pruned scan + pushed
    ``df <= N`` predicate — no tokenization, no shuffle beyond the final
    order. The long-tail result can be large by definition; pass ``limit``
    to page it like ES's implicit size cap."""
    out = (
        open_index(spark, index_root).dict_df()
        .filter(F.col("df") <= int(max_doc_count))
        .select("term", F.col("df").alias("doc_count"))
        .orderBy(F.asc("doc_count"), F.asc("term"))
    )
    return out.limit(limit) if limit is not None else out


def missing_agg(df: DataFrame, col: str) -> DataFrame:
    """ES ``missing`` aggregation: the count of docs with no value for the
    field (NULL here; ES also counts absent keys, which parquet stores as
    NULL). One map-side-combined count."""
    return df.select(
        F.count(F.when(F.col(col).isNull(), F.lit(1))).alias("doc_count")
    )


def bucket_sort(
    buckets: DataFrame,
    sort: list,
    *,
    size: int | None = None,
    from_: int = 0,
) -> DataFrame:
    """ES ``bucket_sort``: re-order the parent's buckets by metric values and
    truncate — ``sort=[("doc_count", "desc"), ...]``; ``from_``/``size`` page
    the sorted bucket list (ES semantics: applied AFTER all other pipeline
    aggs)."""
    orders = [
        (F.desc(c) if str(d).lower() != "asc" else F.asc(c)) for c, d in sort
    ]
    out = buckets.orderBy(*orders)
    if from_ or size is not None:
        # bucket tables are small by construction (see module note) — a
        # window row_number keeps this one plan instead of a collect
        w = Window.orderBy(*orders)
        out = (
            out.withColumn("__rn", F.row_number().over(w))
            .filter(
                (F.col("__rn") > from_)
                & (F.col("__rn") <= (from_ + size if size is not None else 1 << 62))
            )
            .drop("__rn")
        )
    return out


def bucket_script(
    buckets: DataFrame, expr: str, *, name: str = "value"
) -> DataFrame:
    """ES ``bucket_script``: a per-bucket computed metric. ES evaluates a
    Painless arithmetic expression over the bucket's metric values; here the
    expression is the equivalent SQL arithmetic over the bucket columns
    (``"sum_v / doc_count"``) — same per-row, no-shuffle evaluation, but
    compiled by Catalyst instead of Painless."""
    return buckets.withColumn(name, F.expr(expr).cast("double"))


def bucket_selector(buckets: DataFrame, predicate: str) -> DataFrame:
    """ES ``bucket_selector``: drop buckets where the predicate over the
    bucket's metrics is false (``"ratio > 0.5 AND doc_count >= 10"``). Pure
    filter over the bucket table — runs after sub-agg metrics exist, like
    ES's pipeline ordering."""
    return buckets.filter(F.expr(predicate))


def serial_diff(
    buckets: DataFrame, metric: str, *, lag: int = 1, bucket_col: str = "bucket"
) -> DataFrame:
    """ES ``serial_diff``: metric minus the metric ``lag`` buckets earlier in
    bucket order (lag=1 ≡ derivative; lag=7 over daily buckets = week-over-
    week seasonality removal). The first ``lag`` buckets get NULL — ES skips
    them. Same bounded-bucket-table window as the other pipeline aggs."""
    if lag < 1:
        raise ValueError("lag must be >= 1")
    w = Window.orderBy(bucket_col)
    return buckets.withColumn(
        f"{metric}_diff_{lag}", F.col(metric) - F.lag(metric, lag).over(w)
    )


def sibling_bucket_stats(
    buckets: DataFrame, metric: str, *, bucket_col: str = "bucket"
) -> DataFrame:
    """ES ``stats_bucket`` (and the scalar siblings ``min_bucket`` /
    ``max_bucket`` / ``avg_bucket`` / ``sum_bucket``, which are its
    projections): one row of stats over a sibling aggregation's per-bucket
    metric, plus ES's ``min_bucket``/``max_bucket`` ``keys`` arrays — ALL
    bucket keys tied at the extreme, sorted. One pass over the bucket
    table (min_by/max_by would lose ties; the conditional collects don't)."""
    key_s = F.col(bucket_col).cast("string")
    m = F.col(metric).cast("double")
    # global-window min/max first (the bucket table is pipeline-sized, see
    # module note), then one agg — a window fn can't nest inside an aggregate
    w = Window.partitionBy()
    staged = buckets.select(
        m.alias("__m"),
        key_s.alias("__k"),
        F.min(m).over(w).alias("__mn"),
        F.max(m).over(w).alias("__mx"),
    )
    return staged.agg(
        F.count("__m").alias("count"),
        F.min("__m").alias("min"),
        F.max("__m").alias("max"),
        F.avg("__m").alias("avg"),
        F.sum("__m").alias("sum"),
        F.sort_array(
            F.collect_list(F.when(F.col("__m") == F.col("__mn"), F.col("__k")))
        ).alias("min_keys"),
        F.sort_array(
            F.collect_list(F.when(F.col("__m") == F.col("__mx"), F.col("__k")))
        ).alias("max_keys"),
    )


def weighted_avg(df: DataFrame, value_col: str, weight_col: str) -> DataFrame:
    """ES ``weighted_avg``: sum(value*weight)/sum(weight), rows with a NULL
    value or weight excluded whole (ES's default missing handling). One
    map-side-combined aggregation."""
    v = F.col(value_col).cast("double")
    w = F.col(weight_col).cast("double")
    ok = v.isNotNull() & w.isNotNull()
    return df.agg(
        (F.sum(F.when(ok, v * w)) / F.sum(F.when(ok, w))).alias("value")
    )


def value_count_agg(df: DataFrame, col: str) -> DataFrame:
    """ES ``value_count``: number of non-NULL values of the field."""
    return df.agg(F.count(F.col(col)).alias("value"))


def median_absolute_deviation(
    df: DataFrame, col: str, *, exact: bool = True, accuracy: int = 10000
) -> DataFrame:
    """ES ``median_absolute_deviation``: median(|x - median(x)|). ES
    approximates both medians with t-digest; ``exact=False`` mirrors that
    with Spark's mergeable ``percentile_approx`` sketch (bounded memory —
    the 100 TB path), ``exact=True`` uses exact ``median`` (two ranking
    passes) for auditability. Two jobs either way: the inner median is a
    scalar that must exist before the outer pass — same two-phase shape as
    ES's own reduce."""
    v = F.col(col).cast("double")
    inner = (
        F.expr(f"median(cast({col} as double))") if exact
        else F.percentile_approx(v, F.lit(0.5), F.lit(accuracy))
    )
    m = df.agg(inner.alias("m")).collect()[0]["m"]
    dev = F.abs(v - F.lit(float(m)))
    outer = (
        F.expr(f"median(abs(cast({col} as double) - {float(m)!r}))") if exact
        else F.percentile_approx(dev, F.lit(0.5), F.lit(accuracy))
    )
    return df.agg(outer.cast("double").alias("value"))


def multi_terms(
    df: DataFrame, cols: Sequence[str], *, size: int = 10
) -> DataFrame:
    """ES ``multi_terms``: terms buckets keyed on a tuple of fields, ordered
    doc_count desc then key asc (ES's ordering), top ``size``. Single
    hash aggregation on the composite key; rows with any NULL key component
    are dropped (ES's missing-bucket default)."""
    if not cols:
        raise ValueError("multi_terms needs at least one key field")
    cond = None
    for c in cols:
        n = F.col(c).isNotNull()
        cond = n if cond is None else (cond & n)
    return (
        df.filter(cond)
        .groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.desc("doc_count"), *[F.asc(c) for c in cols])
        .limit(size)
    )


def adjacency_matrix(
    df: DataFrame, filters: dict[str, "F.Column"]
) -> DataFrame:
    """ES ``adjacency_matrix``: one bucket per named predicate plus one per
    predicate PAIR counting rows matching both (key ``"a&b"``, names in
    request order like ES). Empty buckets are omitted (ES semantics). Still
    ONE conditional-sum pass over the input — the pair matrix is column
    algebra over the same scan, never n² scans."""
    if not filters:
        raise ValueError("adjacency_matrix needs at least one filter")
    names = list(filters)
    cells: list[tuple[str, F.Column]] = [(n, filters[n]) for n in names]
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            cells.append((f"{a}&{b}", filters[a] & filters[b]))
    row = df.agg(
        *[F.sum(c.cast("long")).alias(f"__c{i}") for i, (_, c) in enumerate(cells)]
    )
    stack_args = ", ".join(
        f"'{n}', bigint(`__c{i}`), {i}" for i, (n, _) in enumerate(cells)
    )
    return (
        row.selectExpr(
            f"stack({len(cells)}, {stack_args}) as (key, doc_count, _ord)"
        )
        .filter(F.col("doc_count") > 0)
        .orderBy("_ord")
        .select("key", "doc_count")
    )


# ----------------------------------------------------------------- geo aggs
# ES geo_point aggregations (the portal's map facets run over the same
# geo_point field the geo data index serves — ops/geoindex.py). All pure
# column algebra: O(1) aggregation state per group, partial+final combine,
# no Python in the data path.

_MAX_MERC_LAT = 85.05112878  # ES/web-mercator latitude clamp


def geo_bounds(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    *,
    wrap_longitude: bool = False,
) -> DataFrame:
    """ES ``geo_bounds``: the bounding box of all points, one row
    ``(top, bottom, left, right)``. ``wrap_longitude=True`` reproduces ES's
    aggregator exactly: it tracks the positive-hemisphere and
    negative-hemisphere longitude extremes separately (six doubles of
    state), then picks the narrower of the unwrapped box and the
    antimeridian-crossing box — ``right < left`` in the result means the box
    crosses the antimeridian, ES's own convention."""
    lon = F.col(lon_col).cast("double")
    lat = F.col(lat_col).cast("double")
    agg = df.agg(
        F.max(lat).alias("top"),
        F.min(lat).alias("bottom"),
        F.min(F.when(lon >= 0, lon)).alias("_pl"),
        F.max(F.when(lon >= 0, lon)).alias("_pr"),
        F.min(F.when(lon < 0, lon)).alias("_nl"),
        F.max(F.when(lon < 0, lon)).alias("_nr"),
    )
    unwrapped_left = F.coalesce(F.col("_nl"), F.col("_pl"))
    unwrapped_right = F.coalesce(F.col("_pr"), F.col("_nr"))
    if not wrap_longitude:
        return agg.select(
            "top", "bottom",
            unwrapped_left.alias("left"), unwrapped_right.alias("right"),
        )
    both = F.col("_pl").isNotNull() & F.col("_nl").isNotNull()
    unwrapped_w = F.col("_pr") - F.col("_nl")
    wrapped_w = F.lit(360.0) + F.col("_nr") - F.col("_pl")
    use_wrap = both & (wrapped_w < unwrapped_w)
    return agg.select(
        "top", "bottom",
        F.when(use_wrap, F.col("_pl")).otherwise(unwrapped_left).alias("left"),
        F.when(use_wrap, F.col("_nr")).otherwise(unwrapped_right).alias("right"),
    )


def geo_centroid(
    df: DataFrame, lon_col: str = "lon", lat_col: str = "lat"
) -> DataFrame:
    """ES ``geo_centroid``: arithmetic mean of the coordinates plus the
    point count (ES averages raw degrees, not spherical — same here)."""
    return df.agg(
        F.avg(F.col(lon_col).cast("double")).alias("lon"),
        F.avg(F.col(lat_col).cast("double")).alias("lat"),
        F.count(F.lit(1)).alias("count"),
    )


def geotile_cell(lon, lat, precision: int):
    """Web-mercator tile key ``"z/x/y"`` for a point — ES ``geotile_grid``
    bucketing (slippy-map tiles, the public OSM formula). Column-in,
    column-out so callers can also use it as a projection."""
    if not 0 <= precision <= 29:
        raise ValueError("geotile precision must be in [0, 29]")
    z = float(1 << precision)
    lon = lon.cast("double")
    latc = F.greatest(
        F.lit(-_MAX_MERC_LAT), F.least(F.lit(_MAX_MERC_LAT), lat.cast("double"))
    )
    x = F.floor((lon + 180.0) / 360.0 * z)
    x = F.least(F.lit(int(z) - 1), F.greatest(F.lit(0), x))
    latr = F.radians(latc)
    import math as _math

    y = F.floor(
        (1.0 - F.log(F.tan(latr) + 1.0 / F.cos(latr)) / _math.pi) / 2.0 * z
    )
    y = F.least(F.lit(int(z) - 1), F.greatest(F.lit(0), y))
    return F.concat_ws("/", F.lit(str(precision)), x.cast("string"), y.cast("string"))


def geotile_grid(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    *,
    precision: int = 7,
    size: int = 10,
) -> DataFrame:
    """ES ``geotile_grid`` aggregation: bucket points into web-mercator tiles
    at ``precision`` (zoom), top ``size`` buckets by doc_count desc then key
    asc. One hash aggregation on the computed tile key."""
    key = geotile_cell(F.col(lon_col), F.col(lat_col), precision)
    return (
        df.groupBy(key.alias("key"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("key"))
        .limit(size)
    )


_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_cell(lon, lat, precision: int):
    """Geohash (public Gustavo Niemeyer base-32 encoding) of a point as a
    column expression: quantize lon/lat to their bit budgets, interleave
    (even bits from the MSB are longitude), emit base-32 chars. The
    interleave unrolls to a fixed expression tree — pure JVM, no UDF."""
    if not 1 <= precision <= 12:
        raise ValueError("geohash precision must be in [1, 12]")
    total = 5 * precision
    n_lon = (total + 1) // 2
    n_lat = total // 2
    lon = lon.cast("double")
    lat = lat.cast("double")
    # quantized cell indices; clamp the degenerate +180/+90 edge into range
    lon_i = F.least(
        F.lit((1 << n_lon) - 1),
        F.floor((lon + 180.0) / 360.0 * float(1 << n_lon)),
    ).cast("long")
    lat_i = F.least(
        F.lit((1 << n_lat) - 1),
        F.floor((lat + 90.0) / 180.0 * float(1 << n_lat)),
    ).cast("long")
    gh = F.lit(0).cast("long")
    for b in range(total):
        if b % 2 == 0:  # longitude bit
            bit = F.shiftright(lon_i, n_lon - 1 - b // 2).bitwiseAND(F.lit(1).cast("long"))
        else:
            bit = F.shiftright(lat_i, n_lat - 1 - b // 2).bitwiseAND(F.lit(1).cast("long"))
        gh = gh * F.lit(2) + bit
    alphabet = F.array(*[F.lit(c) for c in _GEOHASH32])
    chars = [
        F.element_at(
            alphabet,
            (F.shiftright(gh, 5 * (precision - 1 - i)).bitwiseAND(F.lit(31).cast("long")) + 1).cast("int"),
        )
        for i in range(precision)
    ]
    return F.concat(*chars)


def geohash_grid(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    *,
    precision: int = 5,
    size: int = 10,
) -> DataFrame:
    """ES ``geohash_grid`` aggregation: bucket points by geohash cell at
    ``precision`` chars, top ``size`` by doc_count desc then key asc."""
    key = geohash_cell(F.col(lon_col), F.col(lat_col), precision)
    return (
        df.groupBy(key.alias("key"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("key"))
        .limit(size)
    )


# ------------------------------------------------------------ metric aggs 2
# Remaining ES metric-aggregation families. Same design rule as the rest of
# this module: single-pass conditional aggregation wherever possible, exact
# variants that a SQL oracle can replay, rounding for replay-stable floats.


def percentile_ranks_agg(
    df: DataFrame,
    col: str,
    values: Sequence[float],
    ndigits: int = 6,
) -> DataFrame:
    """ES ``percentile_ranks``: for each requested value, the percentage of
    observed values <= it. ES computes this through the t-digest sketch
    (approximate); this is the exact empirical CDF — one conditional-sum
    pass, one row per requested value (long format, like
    ``percentiles_agg``). Values below the minimum rank 0, above the
    maximum rank 100, matching ES's endpoints."""
    if not values:
        raise ValueError("percentile_ranks needs at least one value")
    c = F.col(col).cast("double")
    one = df.agg(
        F.count(c).alias("_n"),
        *[
            F.sum(F.when(c <= F.lit(float(v)), 1).otherwise(0)).alias(f"_le{i}")
            for i, v in enumerate(values)
        ],
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(float(v)).alias("value"),
                F.round(
                    F.lit(100.0) * F.col(f"_le{i}") / F.col("_n"), ndigits
                ).alias("percent_rank"),
            )
            for i, v in enumerate(values)
        ]
    )
    return one.select(F.inline(pairs))


def boxplot_agg(df: DataFrame, col: str, ndigits: int = 6) -> DataFrame:
    """ES ``boxplot``: min/max/q1/q2/q3 plus the truncated whiskers (the
    extreme observed values still within 1.5*IQR of the quartile, ES's
    ``lower``/``upper``). Quartiles are exact linear-interpolation
    (``F.percentile`` = SQL ``quantile_cont``; ES's own are t-digest
    approximations). Two passes: one quantile aggregation, then one
    conditional min/max pass with the 1-row quartile result broadcast —
    never a sort of the data."""
    c = F.col(col).cast("double")
    q = df.agg(
        F.min(c).alias("min"),
        F.max(c).alias("max"),
        F.percentile(c, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias("_q"),
    ).select(
        "min",
        "max",
        F.col("_q")[0].alias("q1"),
        F.col("_q")[1].alias("q2"),
        F.col("_q")[2].alias("q3"),
    )
    j = df.join(F.broadcast(q))
    iqr = F.col("q3") - F.col("q1")
    lo_fence = F.col("q1") - 1.5 * iqr
    hi_fence = F.col("q3") + 1.5 * iqr
    return j.agg(
        F.first("min").alias("min"),
        F.first("max").alias("max"),
        F.round(F.first("q1"), ndigits).alias("q1"),
        F.round(F.first("q2"), ndigits).alias("q2"),
        F.round(F.first("q3"), ndigits).alias("q3"),
        F.min(F.when(c >= lo_fence, c)).alias("lower"),
        F.max(F.when(c <= hi_fence, c)).alias("upper"),
    )


def string_stats_agg(df: DataFrame, col: str, ndigits: int = 4) -> DataFrame:
    """ES ``string_stats``: count, min/max/avg length, and the Shannon
    entropy (base 2) of the corpus-wide character distribution. Lengths are
    one aggregation; entropy is a per-character count (tiny key space) then
    ``log2(T) - sum(n*log2 n)/T`` — algebraically -sum(p*log2 p) without
    materializing probabilities. Both 1-row results broadcast-joined."""
    c = F.col(col)
    lens = df.agg(
        F.count(c).alias("count"),
        F.min(F.length(c)).alias("min_length"),
        F.max(F.length(c)).alias("max_length"),
        F.round(F.avg(F.length(c)), ndigits).alias("avg_length"),
    )
    chars = (
        df.select(F.explode(F.split(c, "")).alias("ch"))
        .filter(F.length("ch") > 0)
        .groupBy("ch")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ent = chars.agg(
        F.round(
            F.log2(F.sum("n"))
            - F.sum(F.col("n") * F.log2(F.col("n"))) / F.sum("n"),
            ndigits,
        ).alias("entropy")
    )
    return lens.join(F.broadcast(ent))


def top_metrics_agg(
    df: DataFrame,
    sort_col: str,
    metrics: Sequence[str],
    *,
    size: int = 1,
    asc: bool = False,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """ES ``top_metrics``: the metric column values taken from the ``size``
    documents with the most extreme sort value. ES tiebreaks by internal doc
    order (non-deterministic across shards); pass ``tiebreak`` columns for a
    reproducible result. Plan is a TakeOrdered (per-partition top-size then
    driver merge), never a full sort."""
    order = [F.asc(sort_col) if asc else F.desc(sort_col)]
    order += [F.asc(t) for t in tiebreak]
    return df.orderBy(*order).limit(size).select(sort_col, *metrics)


# ------------------------------------------------------------ bucket aggs 2
# Remaining ES bucket-aggregation families over time and distance.


def date_range_agg(
    df: DataFrame,
    ts_col: str,
    ranges: list[tuple[str | None, str | None]],
) -> DataFrame:
    """ES ``date_range`` aggregation: one bucket per (from, to) half-open
    timestamp range [from, to) — includes the from, excludes the to, ES's
    documented rule. Bounds are ISO date/timestamp strings or None ("*").
    Same single conditional-sum pass as :func:`range_agg`, request order
    preserved; overlapping ranges double-count as in ES."""
    if not ranges:
        raise ValueError("date_range_agg needs at least one range")
    c = F.col(ts_col)
    sums, keys = [], []
    for i, (lo, hi) in enumerate(ranges):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (c >= F.to_timestamp(F.lit(lo)))
        if hi is not None:
            cond = cond & (c < F.to_timestamp(F.lit(hi)))
        keys.append(f"{lo or '*'}-{hi or '*'}")
        sums.append(F.sum(cond.cast("long")).alias(f"_b{i}"))
    row = df.agg(*sums)
    stack_args = ", ".join(f"'{k}', bigint(_b{i}), {i}" for i, k in enumerate(keys))
    return (
        row.selectExpr(f"stack({len(keys)}, {stack_args}) as (key, doc_count, _ord)")
        .orderBy("_ord")
        .select("key", "doc_count")
    )


_RATE_UNIT_SECONDS = {
    "second": 1, "minute": 60, "hour": 3600, "day": 86400, "week": 604800,
}


def rate_agg(
    df: DataFrame,
    ts_col: str,
    *,
    interval: str = "month",
    unit: str = "day",
    field: str | None = None,
    ndigits: int = 6,
) -> DataFrame:
    """ES ``rate`` aggregation inside a ``date_histogram``: per calendar
    bucket, ``sum(field)`` (or the doc count when ``field`` is None)
    divided by the bucket's actual calendar length expressed in ``unit`` —
    a 31-day month divides by 31 when ``unit='day'``, exactly ES's
    behavior. One hash aggregation; the divisor is closed-form column math
    on the bucket key."""
    if interval not in _INTERVALS:
        raise ValueError(f"interval must be one of {_INTERVALS}")
    if unit not in _RATE_UNIT_SECONDS:
        raise ValueError(f"unit must be one of {sorted(_RATE_UNIT_SECONDS)}")
    val = F.count(F.lit(1)).cast("double") if field is None else F.sum(F.col(field))
    out = (
        df.groupBy(F.date_trunc(interval, F.col(ts_col)).alias("bucket"))
        .agg(val.alias("_v"))
    )
    nxt = {
        "year": F.add_months(F.col("bucket"), 12),
        "quarter": F.add_months(F.col("bucket"), 3),
        "month": F.add_months(F.col("bucket"), 1),
        "week": F.date_add(F.col("bucket"), 7),
        "day": F.date_add(F.col("bucket"), 1),
        "hour": F.col("bucket") + F.expr("INTERVAL 1 HOUR"),
        "minute": F.col("bucket") + F.expr("INTERVAL 1 MINUTE"),
        "second": F.col("bucket") + F.expr("INTERVAL 1 SECOND"),
    }[interval]
    span_units = (
        F.unix_timestamp(nxt.cast("timestamp")) - F.unix_timestamp(F.col("bucket"))
    ) / F.lit(float(_RATE_UNIT_SECONDS[unit]))
    return out.select(
        "bucket", F.round(F.col("_v") / span_units, ndigits).alias("rate")
    ).orderBy("bucket")


_AUTO_DH_LADDER = ("second", "minute", "hour", "day", "month", "year")


def auto_date_histogram(
    df: DataFrame, ts_col: str, *, buckets: int = 10
) -> DataFrame:
    """ES ``auto_date_histogram``: pick the interval so the bucket count
    stays <= the target. This implementation walks the pure calendar ladder
    second→minute→hour→day→month→year and picks the FINEST unit whose
    non-empty bucket count fits (falling back to ``year`` if none does);
    ES's ladder also has intra-unit multiples (5s, 30m, ...), not
    reproduced — documented divergence. Two passes: one aggregation
    computing all six candidate bucket counts at once (never one scan per
    candidate), then the final hash aggregation at the chosen unit."""
    c = F.col(ts_col)
    counts = df.agg(
        *[
            F.count_distinct(F.date_trunc(u, c)).alias(u)
            for u in _AUTO_DH_LADDER
        ]
    ).collect()[0]
    unit = next(
        (u for u in _AUTO_DH_LADDER if counts[u] <= buckets), _AUTO_DH_LADDER[-1]
    )
    return (
        df.groupBy(F.date_trunc(unit, c).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .select(F.lit(unit).alias("interval"), "bucket", "doc_count")
        .orderBy("bucket")
    )


def haversine_km(lon1, lat1, lon2, lat2):
    """Great-circle distance in km between two (lon, lat) column pairs —
    haversine on the IUGG mean radius (the Lucene/ES constant). Pure JVM
    column math; reused by the geo_distance aggregation and tests."""
    from es_indexer_spark.ops.geoindex import EARTH_RADIUS_KM

    phi1, phi2 = F.radians(lat1), F.radians(lat2)
    dphi = F.radians(lat2 - lat1)
    dlam = F.radians(lon2 - lon1)
    h = F.pow(F.sin(dphi / 2), 2) + F.cos(phi1) * F.cos(phi2) * F.pow(
        F.sin(dlam / 2), 2
    )
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(F.least(F.lit(1.0), h)))


def geo_distance_agg(
    df: DataFrame,
    origin_lon: float,
    origin_lat: float,
    ranges: list[tuple[float | None, float | None]],
    *,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """ES ``geo_distance`` aggregation: ring buckets keyed "from-to" (km),
    half-open [from, to), docs may fall in several overlapping rings. The
    haversine distance is computed once per row and the rings are one
    conditional-sum pass, as in :func:`range_agg`."""
    if not ranges:
        raise ValueError("geo_distance_agg needs at least one range")
    d = haversine_km(
        F.lit(float(origin_lon)),
        F.lit(float(origin_lat)),
        F.col(lon_col).cast("double"),
        F.col(lat_col).cast("double"),
    )
    sums, keys = [], []
    for i, (lo, hi) in enumerate(ranges):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (d >= float(lo))
        if hi is not None:
            cond = cond & (d < float(hi))
        keys.append(f"{'*' if lo is None else lo}-{'*' if hi is None else hi}")
        sums.append(F.sum(cond.cast("long")).alias(f"_b{i}"))
    row = df.agg(*sums)
    stack_args = ", ".join(f"'{k}', bigint(_b{i}), {i}" for i, k in enumerate(keys))
    return (
        row.selectExpr(f"stack({len(keys)}, {stack_args}) as (key, doc_count, _ord)")
        .orderBy("_ord")
        .select("key", "doc_count")
    )


def normalize_agg(
    buckets: DataFrame, metric: str, method: str, *, bucket_col: str = "bucket"
) -> DataFrame:
    """ES ``normalize`` pipeline aggregation: rescale a sibling metric across
    the bucket table. Methods (ES names): ``rescale_0_1``, ``rescale_0_100``,
    ``percent_of_sum``, ``mean`` (de-mean), ``z-score``, ``softmax``.

    The bucket table is pipeline-sized (one row per bucket), so the global
    window is a single-partition pass over an already-reduced relation —
    same as every other pipeline agg here."""
    w = Window.partitionBy()
    m = F.col(metric).cast("double")
    if method == "rescale_0_1":
        lo, hi = F.min(m).over(w), F.max(m).over(w)
        out = (m - lo) / (hi - lo)
    elif method == "rescale_0_100":
        lo, hi = F.min(m).over(w), F.max(m).over(w)
        out = (m - lo) / (hi - lo) * 100.0
    elif method == "percent_of_sum":
        out = m / F.sum(m).over(w)
    elif method == "mean":
        out = m - F.avg(m).over(w)
    elif method == "z-score":
        # ES uses the population std here (normalize works over the full
        # bucket set, not a sample)
        out = (m - F.avg(m).over(w)) / F.stddev_pop(m).over(w)
    elif method == "softmax":
        out = F.exp(m) / F.sum(F.exp(m)).over(w)
    else:
        raise ValueError(f"unknown normalize method: {method!r}")
    return buckets.withColumn(f"{metric}_norm", out)


def percentiles_bucket(
    buckets: DataFrame, metric: str, percents: Sequence[float] = (1, 5, 25, 50, 75, 95, 99)
) -> DataFrame:
    """ES ``percentiles_bucket``: exact interpolated percentiles of a sibling
    metric over the bucket table (ES computes these exactly — the bucket
    list is small by construction, unlike the t-digest ``percentiles`` over
    raw docs). One row out, one ``percentile`` call (Catalyst's exact
    interpolated quantile, the same linear rule ES applies)."""
    m = F.col(metric).cast("double")
    # label p99.9 -> p99_9 ('%g' drops a float's trailing zeros, never an int's)
    return buckets.agg(
        *[
            F.percentile(m, F.lit(p / 100.0)).alias(
                "p" + ("%g" % p).replace(".", "_")
            )
            for p in percents
        ]
    )


def extended_stats_bucket(
    buckets: DataFrame, metric: str, *, sigma: float = 2.0
) -> DataFrame:
    """ES ``extended_stats_bucket``: the extended-stats family over a sibling
    metric — count/min/max/avg/sum, sum_of_squares, POPULATION variance/std
    (ES reports population moments) and the sigma bounds."""
    m = F.col(metric).cast("double")
    row = buckets.agg(
        F.count(m).alias("count"),
        F.min(m).alias("min"),
        F.max(m).alias("max"),
        F.avg(m).alias("avg"),
        F.sum(m).alias("sum"),
        F.sum(m * m).alias("sum_of_squares"),
        F.var_pop(m).alias("variance"),
        F.stddev_pop(m).alias("std_deviation"),
    )
    return row.select(
        "*",
        (F.col("avg") + F.lit(float(sigma)) * F.col("std_deviation")).alias(
            "std_deviation_bounds_upper"
        ),
        (F.col("avg") - F.lit(float(sigma)) * F.col("std_deviation")).alias(
            "std_deviation_bounds_lower"
        ),
    )


def moving_fn(
    buckets: DataFrame,
    metric: str,
    *,
    window: int,
    fn: str,
    shift: int = 0,
    bucket_col: str = "bucket",
) -> DataFrame:
    """ES ``moving_fn``: apply a function over a sliding window of a sibling
    metric in bucket order. ``shift=0`` (the ES default) looks at the
    ``window`` buckets BEFORE the current one, current excluded —
    ``shift=1`` includes it (:func:`moving_avg` is the shift=1 unweightedAvg
    shortcut). Functions: ``min`` / ``max`` / ``sum`` / ``unweightedAvg`` /
    ``stdDev`` (population, per MovingFunctions.stdDev) /
    ``linearWeightedAvg`` (weight = position+1 within the window, ES's
    linear decay). Head windows are partial like ES; an empty window yields
    NULL (ES emits NaN/skips)."""
    if window < 1:
        raise ValueError("window must be >= 1")
    lo, hi = -window + shift, shift - 1
    w = Window.orderBy(bucket_col).rowsBetween(lo, hi)
    m = F.col(metric).cast("double")
    if fn == "min":
        out = F.min(m).over(w)
    elif fn == "max":
        out = F.max(m).over(w)
    elif fn == "sum":
        out = F.sum(m).over(w)
    elif fn == "unweightedAvg":
        out = F.avg(m).over(w)
    elif fn == "stdDev":
        out = F.stddev_pop(m).over(w)
    elif fn == "linearWeightedAvg":
        # Σ v_i·(i+1) / Σ (i+1) over the frame in bucket order; the frame is
        # an ordered row window, so collect_list preserves frame order
        vals = F.collect_list(m).over(w)
        num = F.aggregate(
            F.zip_with(
                vals,
                F.sequence(F.lit(1), F.size(vals)),
                lambda v, i: v * i.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        den = F.size(vals) * (F.size(vals) + 1) / 2.0
        out = F.when(F.size(vals) > 0, num / den)
    else:
        raise ValueError(f"unknown moving_fn function: {fn!r}")
    return buckets.withColumn(f"{metric}_mfn", out)


def t_test_agg(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    *,
    test_type: str = "heteroscedastic",
) -> DataFrame:
    """ES ``t_test`` aggregation between two filtered populations. Returns
    the t-statistic and the degrees of freedom (Welch-Satterthwaite for
    ``heteroscedastic``, pooled for ``homoscedastic``) — NOT ES's final
    p-value: the two-sided Student-t CDF isn't SQL/Catalyst-expressible and a
    driver-side special function would leave the data path, so the caller
    converts (t, dof) with any stats library (documented divergence; both
    columns are deterministic and oracle-replayable).

    One conditional-aggregate pass (no second scan, no join): each side's
    n / mean / sample variance come from sums over the same rows."""
    if test_type not in ("heteroscedastic", "homoscedastic"):
        raise ValueError(f"unknown t_test type: {test_type!r}")
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    sides = {}
    for tag, key in (("a", group_a), ("b", group_b)):
        cond = g == F.lit(key)
        sides[tag] = [
            F.sum(cond.cast("long")).alias(f"n_{tag}"),
            F.avg(F.when(cond, v)).alias(f"m_{tag}"),
            F.var_samp(F.when(cond, v)).alias(f"v_{tag}"),
        ]
    row = df.agg(*sides["a"], *sides["b"])
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ma, mb, va, vb = F.col("m_a"), F.col("m_b"), F.col("v_a"), F.col("v_b")
    if test_type == "heteroscedastic":
        se2 = va / na + vb / nb
        t = (ma - mb) / F.sqrt(se2)
        dof = (se2 * se2) / (
            (va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1)
        )
    else:
        sp2 = ((na - 1) * va + (nb - 1) * vb) / (na + nb - 2)
        t = (ma - mb) / F.sqrt(sp2 * (1.0 / na + 1.0 / nb))
        dof = na + nb - 2
    return row.select(
        "n_a", "n_b", t.alias("t_stat"), dof.alias("dof")
    )


def matrix_stats_agg(df: DataFrame, fields: Sequence[str]) -> DataFrame:
    """ES ``matrix_stats``: pairwise SAMPLE covariance and Pearson
    correlation over the numeric ``fields`` (ES reports the sample moments),
    one output row per unordered pair including the diagonal. A single
    aggregate pass computes the full upper triangle — no self-join, no
    second scan; at any scale this is one map-side-combined reduction of
    |fields|² running sums."""
    if len(fields) < 2:
        raise ValueError("matrix_stats needs at least two fields")
    aggs = []
    pairs = []
    for i, fx in enumerate(fields):
        for fy in fields[i:]:
            tag = f"{fx}__{fy}"
            pairs.append((fx, fy, tag))
            aggs.append(
                F.covar_samp(
                    F.col(fx).cast("double"), F.col(fy).cast("double")
                ).alias(f"cov_{tag}")
            )
            aggs.append(
                F.corr(
                    F.col(fx).cast("double"), F.col(fy).cast("double")
                ).alias(f"cor_{tag}")
            )
    row = df.agg(*aggs)
    stack = ", ".join(
        f"'{fx}', '{fy}', cov_{tag}, cor_{tag}" for fx, fy, tag in pairs
    )
    return row.selectExpr(
        f"stack({len(pairs)}, {stack}) as (field_x, field_y, covariance, correlation)"
    ).orderBy("field_x", "field_y")


# ------------------------------------------------------- sampler aggregations
def sampler_hits(
    spark,
    index_root: str,
    query: str,
    shard_size: int = 100,
    *,
    diversify_field: str | None = None,
    max_docs_per_value: int = 1,
    lang: str | None = None,
) -> DataFrame:
    """ES ``sampler`` / ``diversified_sampler`` candidate set: the best-scoring
    ``shard_size`` matches of ``query``, optionally de-duplicated so at most
    ``max_docs_per_value`` docs share one ``diversify_field`` value (the
    diversified variant). Returns ``(docid, score)`` for sub-aggregations to
    consume.

    ES samples per shard; this takes the GLOBAL top — the deterministic
    analog (documented divergence: global sampling is a strict superset in
    quality and makes the result replayable; per-shard behavior would depend
    on routing). The diversify window partitions by the field value — skew
    bounded by the most common value's match count, and only the match set
    (not the corpus) flows through it."""
    from es_indexer_spark.query.boolean import bool_query
    from pyspark.sql import Window

    hits = bool_query(spark, index_root, should=[query], k=None, lang=lang)
    if diversify_field is not None:
        docs = index_docs(spark, index_root).select("docid", diversify_field)
        w = Window.partitionBy(diversify_field).orderBy(
            F.desc("score"), F.asc("docid")
        )
        hits = (
            hits.join(docs, "docid")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= int(max_docs_per_value))
            .drop("_rn", diversify_field)
        )
    return hits.orderBy(F.desc("score"), F.asc("docid")).limit(int(shard_size))


def sampler_terms(
    spark,
    index_root: str,
    query: str,
    field: str,
    shard_size: int = 100,
    size: int = 10,
    **sampler_kw,
) -> DataFrame:
    """A ``terms`` sub-aggregation under a (diversified) sampler: bucket
    counts of ``field`` over the sampled hit set — the canonical ES pattern
    (sample the best matches, then aggregate cheaply). Returns
    ``(key, doc_count)``, count desc / key asc."""
    sample = sampler_hits(spark, index_root, query, shard_size, **sampler_kw)
    docs = index_docs(spark, index_root).select("docid", field)
    return (
        sample.join(docs, "docid")
        .groupBy(F.col(field).alias("key"))
        .agg(F.count("*").alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("key"))
        .limit(int(size))
    )


def significant_text(
    spark,
    index_root: str,
    query: str,
    source_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 10,
    *,
    min_doc_count: int = 3,
    sample_size: int | None = None,
    lang: str | None = None,
) -> DataFrame:
    """ES ``significant_text``: terms unusually frequent in the docs matching
    ``query`` vs the whole corpus, re-analyzed from the source text (the ES
    contract — significant_text re-tokenizes ``_source`` because the index
    stores no per-doc term vectors; same here). Scored with the published JLH
    heuristic over document frequencies, ties by term asc.

    The 100 TB shape: the expensive part (re-tokenization) touches ONLY the
    foreground — the hit docids semi-join the source table before the
    tokenizer runs (``sample_size`` caps it further, the ES
    sampler-wrapped idiom) — while the background doc frequencies come FREE
    from the index dictionary (exact, no corpus pass; ES pays a term-vector
    lookup per term here). One groupBy over the foreground's distinct
    (doc, term) pairs, one broadcast join of the small fg term set against
    the dictionary.
    """
    from es_indexer_spark.query.boolean import bool_query

    if min_doc_count < 1:
        raise ValueError("min_doc_count must be >= 1")
    r = open_index(spark, index_root)
    stats = r.stats
    n_docs = float(r.n_docs)

    hits = bool_query(spark, index_root, should=[query], k=None, lang=lang)
    if sample_size is not None:
        hits = hits.orderBy(F.desc("score"), F.asc("docid")).limit(int(sample_size))
    fg_ids = hits.select(F.col("docid").alias(id_col))
    fg_docs = source_df.join(fg_ids, id_col, "left_semi")

    if stats["tokenizer"] == "standard":
        toks = F.filter(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
            lambda x: x != F.lit(""),
        )
    elif stats["tokenizer"] == "code":
        from es_indexer_spark.analysis.tokenizer import get_tokenizer_udf

        lang_col = (
            F.col("lang") if "lang" in source_df.columns
            else F.lit(None).cast("string")
        )
        toks = get_tokenizer_udf("code")(F.col(text_col), lang_col)
    else:
        from es_indexer_spark.analysis.tokenizer import get_tokenizer_udf

        toks = get_tokenizer_udf(stats["tokenizer"])(F.col(text_col))
    per_doc = fg_docs.select(
        F.col(id_col), F.explode(F.array_distinct(toks)).alias("term")
    )
    fg_counts = per_doc.groupBy("term").agg(
        F.count("*").cast("long").alias("fg_count")
    )
    nf = fg_docs.agg(F.count("*").cast("double").alias("_nf"))
    d = r.dict_df().select("term", F.col("df").alias("bg_count"))
    fg_pct = F.col("fg_count") / F.col("_nf")
    bg_pct = F.col("bg_count") / F.lit(n_docs)
    return (
        d.join(F.broadcast(fg_counts), "term")
        .crossJoin(F.broadcast(nf))
        .filter(F.col("fg_count") >= int(min_doc_count))
        .select(
            "term",
            F.col("fg_count").cast("long").alias("fg_count"),
            F.col("bg_count").cast("long").alias("bg_count"),
            F.round((fg_pct - bg_pct) * (fg_pct / bg_pct), 8).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(int(size))
    )


def moving_percentiles(
    buckets: DataFrame,
    metric: str,
    *,
    window: int,
    percent: float = 50.0,
    shift: int = 0,
    bucket_col: str = "bucket",
) -> DataFrame:
    """ES ``moving_percentiles``: slide a percentile over a sibling metric in
    bucket order, same window/shift convention as :func:`moving_fn`
    (``shift=0`` = the ``window`` buckets before the current one). The
    percentile is EXACT with linear interpolation (R-7, the quantile_cont
    definition) — ES runs a t-digest here, but over a window of at most
    ``window`` scalars the exact computation is both cheaper and replayable.
    Bounded by the bucket table like every pipeline agg — the corpus work
    happened in the parent aggregation. Empty head windows yield NULL."""
    if window < 1:
        raise ValueError("window must be >= 1")
    if not (0.0 <= percent <= 100.0):
        raise ValueError("percent must be within [0, 100]")
    lo, hi = -window + shift, shift - 1
    w = Window.orderBy(bucket_col).rowsBetween(lo, hi)
    vals = F.sort_array(F.collect_list(F.col(metric).cast("double")).over(w))
    n = F.size(vals)
    rank = (F.lit(float(percent)) / F.lit(100.0)) * (n.cast("double") - 1.0)
    lo_i = F.floor(rank).cast("int")
    frac = rank - lo_i.cast("double")
    v_lo = F.element_at(vals, lo_i + 1)
    v_hi = F.element_at(vals, F.least(lo_i + 2, n))
    out = F.when(n > 0, v_lo + (v_hi - v_lo) * frac)
    return buckets.withColumn(f"{metric}_p{int(percent)}", out)


def variable_width_histogram(
    df: DataFrame, field: str, buckets: int = 10, *, exact: bool = False
) -> DataFrame:
    """ES ``variable_width_histogram``: N buckets whose widths adapt to the
    value density. ES clusters per shard with an order-dependent streaming
    sketch; the deterministic, replayable analog here is EQUAL-FREQUENCY
    clustering — (N-1) interior quantile boundaries, then one bucket-assign
    pass + one hash agg (documented divergence: boundaries are quantiles,
    not k-means centroids; both adapt width to density, and this one is
    stable under reordering). Response shape per ES: per-bucket ``min`` /
    ``max`` / ``key`` (the centroid = mean) / ``doc_count``.

    ``exact=False`` (default) computes boundaries with the MERGEABLE
    ``percentile_approx`` sketch — the 100 TB path (one map-combined pass,
    no sort). ``exact=True`` uses the exact ``percentile`` aggregate
    (R-7 interpolation) — bounded by memory on huge cardinalities, used by
    the oracle replay and small-scale tests. NULLs are skipped."""
    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    v = F.col(field).cast("double")
    base = df.filter(v.isNotNull())
    if buckets == 1:
        return base.agg(
            F.min(v).alias("min"), F.max(v).alias("max"),
            F.avg(v).alias("key"), F.count(F.lit(1)).alias("doc_count"),
        ).select(F.lit(0).alias("bucket_idx"), "min", "max", "key", "doc_count")
    ps = [i / buckets for i in range(1, buckets)]
    fn = "percentile" if exact else "percentile_approx"
    arr = ", ".join(repr(p) for p in ps)
    bounds = base.agg(
        F.expr(f"{fn}({field}, array({arr}))").alias("_b")
    )
    # bucket id = number of interior boundaries strictly below the value
    # (values equal to a boundary go LEFT — matches the SQL replay)
    assigned = base.crossJoin(F.broadcast(bounds)).select(
        v.alias("_v"),
        F.aggregate(
            "_b",
            F.lit(0),
            lambda acc, b: acc + F.when(v > b, F.lit(1)).otherwise(F.lit(0)),
        ).alias("bucket_idx"),
    )
    return (
        assigned.groupBy("bucket_idx")
        .agg(
            F.min("_v").alias("min"),
            F.max("_v").alias("max"),
            F.avg("_v").alias("key"),
            F.count(F.lit(1)).alias("doc_count"),
        )
        .orderBy("bucket_idx")
    )


def categorize_text(
    df: DataFrame, text_col: str, size: int = 10
) -> DataFrame:
    """ES ``categorize_text``: group semi-structured messages (log lines) by
    their TEMPLATE. ES runs its ML categorizer (a drain-like token tree whose
    buckets depend on document order); the deterministic, SQL-replayable
    analog here normalizes each message to a template — lowercase, hex runs
    and numbers to placeholders, whitespace collapsed — and buckets by it
    (the documented intent: messages differing only in variable parts share
    a category). One regexp chain + one hash agg; count desc / key asc."""
    norm = F.lower(F.col(text_col))
    norm = F.regexp_replace(norm, r"\b0x[0-9a-f]+\b", "<hex>")
    norm = F.regexp_replace(norm, r"\b[0-9a-f]*[0-9][0-9a-f]*[a-f][0-9a-f]{6,}\b", "<hex>")
    norm = F.regexp_replace(norm, r"[0-9]+(\.[0-9]+)?", "<num>")
    norm = F.trim(F.regexp_replace(norm, r"\s+", " "))
    return (
        df.filter(F.col(text_col).isNotNull())
        .groupBy(norm.alias("key"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("key"))
        .limit(int(size))
    )


def scripted_metric(
    df: DataFrame,
    map_expr: str,
    reduce_expr: str = "total",
    *,
    group_by: "list[str] | None" = None,
) -> DataFrame:
    """ES ``scripted_metric`` with the Painless scripts replaced by Catalyst
    expressions (the documented sum-shaped subset): ``map_script`` →
    ``map_expr`` evaluated per doc; ``combine_script`` → the map-side
    partial SUM Spark performs automatically; ``reduce_script`` →
    ``reduce_expr`` over the combined state (``total`` = Σ map_expr, ``n`` =
    doc count). Arbitrary stateful scripts only distribute when the combine
    step is associative — which is exactly the sum shape; anything else
    would serialize on one node, so restricting the contract here is the
    scale-honest choice. Returns group columns + ``value``."""
    g = df.groupBy(*[F.col(c) for c in group_by]) if group_by else df.groupBy()
    base = g.agg(
        F.sum(F.expr(map_expr)).cast("double").alias("total"),
        F.count(F.lit(1)).alias("n"),
    )
    cols = list(group_by or []) + [F.expr(reduce_expr).cast("double").alias("value")]
    out = base.select(*cols)
    return out.orderBy(*[F.asc(c) for c in (group_by or [])]) if group_by else out


def global_metric(
    spark,
    index_root: str,
    query: str,
    field: str,
    metric: str = "avg",
    *,
    lang: str | None = None,
) -> DataFrame:
    """ES ``global`` aggregation — break OUT of the query context: one row
    with the metric over the query's matches next to the same metric over
    ALL live docs of the index (the canonical use: compare a slice to its
    background). The global side is one column-pruned pass over the docs
    store; the query side reuses the bool engine's match set."""
    from es_indexer_spark.query.boolean import bool_query

    fn = {"avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max}.get(metric)
    if fn is None:
        raise ValueError("metric must be avg/sum/min/max")
    docs = index_docs(spark, index_root).select("docid", field)
    hits = bool_query(spark, index_root, should=[query], k=None, lang=lang)
    q_side = hits.join(docs, "docid").agg(
        fn(F.col(field).cast("double")).alias("query_value"),
        F.count(F.lit(1)).alias("query_count"),
    )
    g_side = docs.agg(
        fn(F.col(field).cast("double")).alias("global_value"),
        F.count(F.lit(1)).alias("global_count"),
    )
    return q_side.crossJoin(F.broadcast(g_side))


def _ip2long_col(col):
    """Dotted-quad IPv4 string → int64 — pure column algebra (split + cast),
    no UDF."""
    p = F.split(col, r"\.")
    return (
        p[0].cast("long") * 16777216 + p[1].cast("long") * 65536
        + p[2].cast("long") * 256 + p[3].cast("long")
    )


def _ip2long(s: str) -> int:
    a, b, c, d = (int(x) for x in s.split("."))
    for o in (a, b, c, d):
        if not 0 <= o <= 255:
            raise ValueError(f"bad IPv4 octet in {s!r}")
    return a * 16777216 + b * 65536 + c * 256 + d


def ip_range_agg(
    df: DataFrame, col: str, ranges: "list[tuple[str | None, str | None]]"
) -> DataFrame:
    """ES ``ip_range`` aggregation over an IPv4 string field: one bucket per
    ``(from, to)`` with ES's bound rule (``from`` inclusive, ``to``
    exclusive); buckets may overlap, so like :func:`range_agg` this is ONE
    conditional-sum pass, never a per-range scan. Keys render ``from-to``
    with ``*`` for unbounded, in request order. The dotted quad converts to
    an int64 with column algebra (no UDF); IPv6 raises by name (this packing
    is 32-bit — ES stores both, the synthetic corpus has neither)."""
    if not ranges:
        raise ValueError("ip_range_agg needs at least one range")
    v = _ip2long_col(F.col(col))
    aggs = []
    keys = []
    for lo, hi in ranges:
        if (lo and ":" in lo) or (hi and ":" in hi):
            raise ValueError("IPv6 is not supported by this 32-bit packing")
        cond = F.col(col).isNotNull()
        if lo is not None:
            cond = cond & (v >= _ip2long(lo))
        if hi is not None:
            cond = cond & (v < _ip2long(hi))
        key = f"{lo or '*'}-{hi or '*'}"
        keys.append(key)
        aggs.append(F.sum(cond.cast("long")).alias(key))
    row = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{k}', bigint(`{k}`), {i}" for i, k in enumerate(keys)
    )
    return (
        row.selectExpr(
            f"stack({len(keys)}, {stack_args}) as (key, doc_count, _ord)"
        )
        .orderBy("_ord")
        .select("key", "doc_count")
    )


def geo_grid_query(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    *,
    geotile: str | None = None,
    geohash: str | None = None,
) -> DataFrame:
    """ES ``geo_grid`` query: the docs whose point falls inside ONE grid
    cell — a ``geotile`` key (``"z/x/y"``) or a ``geohash``. The cell
    expression is the SAME one the grid aggregations bucket with, so a
    bucket's doc_count always equals this query's row count (pytest-pinned).
    Pure JVM column predicate; at 100 TB store the cell as a column and the
    equality prunes parquet row groups."""
    if (geotile is None) == (geohash is None):
        raise ValueError("pass exactly one of geotile= / geohash=")
    if geotile is not None:
        z = int(geotile.split("/")[0])
        pred = geotile_cell(F.col(lon_col), F.col(lat_col), z) == geotile
    else:
        pred = geohash_cell(F.col(lon_col), F.col(lat_col), len(geohash)) == geohash
    return df.filter(pred)


def random_sampler_agg(
    df: DataFrame,
    id_col: str,
    probability: float,
    *,
    group_field: str | None = None,
    buckets: int = 1_000_000,
) -> DataFrame:
    """ES ``random_sampler``: run sub-aggregations over a probability sample
    and scale counts back by ``1/p``. ES samples with a per-shard RNG
    (results vary run to run); here membership is the DETERMINISTIC
    sha-bucket of the doc id — the same growth-stable construction as the
    corpus-mixing ops, so the sample is replayable and a doc's membership
    never flips as the corpus grows (documented divergence, strictly more
    reproducible). Returns per-group ``sampled_count`` plus the
    ``1/p``-scaled ``doc_count`` estimate, the ES response shape. The
    filter is one row-local predicate — the scan reads ``p`` of the data's
    rows' worth of downstream work, which is the entire point at 100 TB."""
    from es_indexer_spark.ops.packing import _sha_bucket

    if not 0.0 < probability <= 1.0:
        raise ValueError("probability must be in (0, 1]")
    sampled = df.filter(
        _sha_bucket(F.col(id_col), buckets) < float(probability) * buckets
    )
    g = sampled.groupBy(F.col(group_field)) if group_field else sampled.groupBy()
    out = g.agg(F.count(F.lit(1)).alias("sampled_count"))
    est = F.round(F.col("sampled_count") / F.lit(float(probability))).cast("long")
    cols = ([F.col(group_field)] if group_field else []) + [
        "sampled_count", est.alias("doc_count")
    ]
    out = out.select(*cols)
    return out.orderBy(F.asc(group_field)) if group_field else out


def change_point_agg(
    buckets_df: DataFrame, metric: str, bucket_col: str = "bucket"
) -> DataFrame:
    """ES ``change_point`` (the step-change core): the split of the bucket
    series minimizing the two-segment squared error — the classic
    least-squares changepoint statistic. ES's ML flavor further classifies
    spike/dip/trend; this deterministic core reports what those derive
    from: the first bucket of the new regime, both segment means, and the
    variance reduction ``1 - min_cost/SSE_total`` (0 = stationary, → 1 =
    clean step). Ties break on the earliest split.

    Runs entirely over the BOUNDED bucket table: two window cumsums + one
    argmin — the corpus-sized work happened in the parent aggregation,
    exactly like every other pipeline agg here."""
    x = F.col(metric).cast("double")
    ord_w = Window.orderBy(bucket_col)
    cum = Window.orderBy(bucket_col).rowsBetween(Window.unboundedPreceding, 0)
    base = (
        buckets_df.select(F.col(bucket_col), x.alias("_x"))
        .withColumn("_k", F.row_number().over(ord_w))
        .withColumn("_s", F.sum("_x").over(cum))
        .withColumn("_sq", F.sum(F.col("_x") * F.col("_x")).over(cum))
        .withColumn("_next", F.lead(bucket_col).over(ord_w))
    )
    tot = base.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum("_x").alias("_t"),
        F.sum(F.col("_x") * F.col("_x")).alias("_tsq"),
    )
    j = base.crossJoin(F.broadcast(tot)).filter(F.col("_k") < F.col("_n"))
    k = F.col("_k").cast("double")
    sse_l = F.col("_sq") - F.col("_s") * F.col("_s") / k
    rs = F.col("_t") - F.col("_s")
    rn = F.col("_n") - k
    sse_r = (F.col("_tsq") - F.col("_sq")) - rs * rs / rn
    sse_tot = F.col("_tsq") - F.col("_t") * F.col("_t") / F.col("_n")
    scored = j.select(
        F.col("_next").alias("change_bucket"),
        (F.col("_s") / k).alias("left_mean"),
        (rs / rn).alias("right_mean"),
        (sse_l + sse_r).alias("_cost"),
        sse_tot.alias("_sse_tot"),
        "_k",
    )
    best = scored.orderBy(F.asc("_cost"), F.asc("_k")).limit(1)
    return best.select(
        "change_bucket",
        F.round("left_mean", 6).alias("left_mean"),
        F.round("right_mean", 6).alias("right_mean"),
        F.round(
            F.when(F.col("_sse_tot") > 0.0,
                   F.lit(1.0) - F.col("_cost") / F.col("_sse_tot"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("variance_reduction"),
    )
