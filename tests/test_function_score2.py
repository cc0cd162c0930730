"""function_score with a ``functions`` array (round-5 continuation):
weight+filter gating, gauss/exp/linear decay, deterministic random_score,
score_mode / boost_mode / max_boost — every combination replayed against a
pure-Python reimplementation over the collected match frame."""

from __future__ import annotations

import math

import pytest

from es_indexer_spark.index import catalog
from es_indexer_spark.index.builder import build_index
from es_indexer_spark.query.boolean import bool_query
from es_indexer_spark.query.compound import function_score_functions

Q = "data stream"


@pytest.fixture(scope="module")
def fs_index(spark, documents, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx_fscore2"))
    build_index(
        spark, documents, root,
        content_col="text", id_col="doc_id",
        meta_cols=("lang", "n_chars"),
        tokenizer="standard", n_buckets=8, shard_size=100,
        n_ckpt_batches=2,
    )
    base = {
        r["docid"]: r["score"]
        for r in bool_query(spark, root, should=[Q], k=None).collect()
    }
    docs = {
        r["docid"]: (r["lang"], r["n_chars"])
        for r in spark.read.parquet(catalog.resolve(root) + "/docs")
        .select("docid", "lang", "n_chars").collect()
    }
    return root, base, docs


def _gauss(x, origin, scale, decay=0.5, offset=0.0):
    dist = max(0.0, abs(x - origin) - offset)
    sigma2 = -(scale * scale) / (2.0 * math.log(decay))
    return math.exp(-(dist * dist) / (2.0 * sigma2))


def _rank(scores, k=10):
    rows = sorted(scores.items(), key=lambda t: (-round(t[1], 6), t[0]))[:k]
    return [(d, round(s, 6)) for d, s in rows]


def _got(spark, root, functions, **kw):
    return [
        (r["docid"], r["score"])
        for r in function_score_functions(
            spark, root, Q, functions, **kw
        ).collect()
    ]


def test_gauss_decay_vs_python(spark, fs_index):
    root, base, docs = fs_index
    fns = [{"gauss": {"n_chars": {"origin": 500, "scale": 300}}}]
    got = _got(spark, root, fns)
    want = _rank({
        d: s * _gauss(docs[d][1], 500, 300) for d, s in base.items()
    })
    assert got == [(d, pytest.approx(s)) for d, s in want]


def test_weight_filter_and_neutral(spark, fs_index):
    root, base, docs = fs_index
    # filtered weight: only 'fr' docs get the x3; others keep base (neutral)
    fns = [{"filter": {"term": {"lang": "fr"}}, "weight": 3.0}]
    got = _got(spark, root, fns, k=20)
    want = _rank({
        d: s * (3.0 if docs[d][0] == "fr" else 1.0) for d, s in base.items()
    }, 20)
    assert got == [(d, pytest.approx(s)) for d, s in want]
    # a filter nothing matches: every score unchanged (neutral 1.0)
    none = _got(spark, root,
                [{"filter": {"term": {"lang": "zz"}}, "weight": 9.0}], k=20)
    plain = _rank(dict(base), 20)
    assert none == [(d, pytest.approx(s)) for d, s in plain]


def test_score_modes_and_max_boost(spark, fs_index):
    root, base, docs = fs_index
    fns = [
        {"gauss": {"n_chars": {"origin": 500, "scale": 300}}},
        {"filter": {"range": {"n_chars": {"gte": 400}}}, "weight": 2.0},
    ]

    def f_vals(d):
        vals = [_gauss(docs[d][1], 500, 300)]
        if docs[d][1] >= 400:
            vals.append(2.0)
        return vals

    got_sum = _got(spark, root, fns, score_mode="sum", max_boost=2.5)
    want = _rank({
        d: s * min(sum(f_vals(d)), 2.5) for d, s in base.items()
    })
    assert got_sum == [(d, pytest.approx(s)) for d, s in want]

    got_max = _got(spark, root, fns, score_mode="max", boost_mode="sum")
    want2 = _rank({d: s + max(f_vals(d)) for d, s in base.items()})
    assert got_max == [(d, pytest.approx(s)) for d, s in want2]

    got_first = _got(spark, root, fns, score_mode="first",
                     boost_mode="replace")
    want3 = _rank({d: f_vals(d)[0] for d, s in base.items()})
    assert got_first == [(d, pytest.approx(s)) for d, s in want3]


def test_exp_linear_decay(spark, fs_index):
    root, base, docs = fs_index
    got = _got(spark, root,
               [{"exp": {"n_chars": {"origin": 0, "scale": 500,
                                     "decay": 0.3}}}])
    lam = math.log(0.3) / 500.0
    want = _rank({
        d: s * math.exp(lam * abs(docs[d][1])) for d, s in base.items()
    })
    assert got == [(d, pytest.approx(s)) for d, s in want]
    got_l = _got(spark, root,
                 [{"linear": {"n_chars": {"origin": 500, "scale": 600,
                                          "offset": 50}}}])
    sfac = 600.0 / (1.0 - 0.5)
    want_l = _rank({
        d: s * max(0.0, (sfac - max(0.0, abs(docs[d][1] - 500) - 50)) / sfac)
        for d, s in base.items()
    })
    assert got_l == [(d, pytest.approx(s)) for d, s in want_l]


def test_random_score_deterministic(spark, fs_index):
    root, _base, _docs = fs_index
    fns = [{"random_score": {"seed": 42}}]
    a = _got(spark, root, fns)
    b = _got(spark, root, fns)
    assert a == b and a
    c = _got(spark, root, [{"random_score": {"seed": 43}}])
    assert c != a  # a different seed reshuffles (overwhelmingly likely)


def test_dsl_functions_array_dispatch(spark, fs_index):
    from es_indexer_spark.query.dsl import search

    root, _base, _docs = fs_index
    fns = [
        {"gauss": {"n_chars": {"origin": 500, "scale": 300}}},
        {"filter": {"term": {"lang": "fr"}}, "weight": 2.0},
    ]
    body = {"query": {"function_score": {
        "query": {"match": {"text": Q}},
        "functions": fns, "score_mode": "sum", "boost_mode": "multiply",
        "max_boost": 2.5,
    }}, "size": 10}
    via_dsl = [(r["docid"], r["score"])
               for r in search(spark, root, body).collect()]
    direct = _got(spark, root, fns, score_mode="sum", max_boost=2.5)
    assert via_dsl == direct


def test_unstored_field_raises(spark, fs_index):
    root, _b, _d = fs_index
    with pytest.raises(ValueError, match="unstored fields"):
        _got(spark, root,
             [{"gauss": {"nope": {"origin": 0, "scale": 10}}}])


def test_date_decay_recency(spark, documents, tmp_path_factory):
    """Date-origin gauss: the recency-boost shape, replayed in python over
    a runtime-derived timestamp column stored as meta."""
    from pyspark.sql import functions as F

    root = str(tmp_path_factory.mktemp("idx_fs_date"))
    docs = documents.withColumn(
        "ts", F.expr(
            "timestamp'2024-01-01' + make_interval(0,0,0,n_chars % 28,0,0,0)")
    )
    build_index(
        spark, docs, root, content_col="text", id_col="doc_id",
        meta_cols=("n_chars", "ts"), tokenizer="standard",
        n_buckets=8, shard_size=100, n_ckpt_batches=2,
    )
    base = {
        r["docid"]: r["score"]
        for r in bool_query(spark, root, should=[Q], k=None).collect()
    }
    import datetime as dt

    tss = {
        r["docid"]: r["ts"]
        for r in spark.read.parquet(catalog.resolve(root) + "/docs")
        .select("docid", "ts").collect()
    }
    origin = dt.datetime(2024, 1, 15)
    want = _rank({
        d: s * _gauss(abs((tss[d] - origin).total_seconds()), 0.0,
                      7 * 86400.0, offset=86400.0)
        for d, s in base.items()
    })
    # the origin parses in the space, ISO "T" and bare-date forms alike
    for o in ("2024-01-15 00:00:00", "2024-01-15T00:00:00", "2024-01-15"):
        got = [
            (r["docid"], r["score"])
            for r in function_score_functions(
                spark, root, Q,
                [{"gauss": {"ts": {"origin": o,
                                   "scale": "7d", "offset": "1d"}}}],
            ).collect()
        ]
        assert got == [(d, pytest.approx(s)) for d, s in want], o


def test_geo_decay_haversine(spark, documents, tmp_path_factory):
    """Geo-origin exp decay over (lon, lat) meta columns vs a python
    haversine replay."""
    from pyspark.sql import functions as F

    root = str(tmp_path_factory.mktemp("idx_fs_geo"))
    docs = documents.withColumn(
        "lon", F.expr("(n_chars % 360) - 180.0")
    ).withColumn("lat", F.expr("(n_chars % 160) - 80.0"))
    build_index(
        spark, docs, root, content_col="text", id_col="doc_id",
        meta_cols=("lon", "lat"), tokenizer="standard",
        n_buckets=8, shard_size=100, n_ckpt_batches=2,
    )
    base = {
        r["docid"]: r["score"]
        for r in bool_query(spark, root, should=[Q], k=None).collect()
    }
    pts = {
        r["docid"]: (float(r["lon"]), float(r["lat"]))
        for r in spark.read.parquet(catalog.resolve(root) + "/docs")
        .select("docid", "lon", "lat").collect()
    }
    got = [
        (r["docid"], r["score"])
        for r in function_score_functions(
            spark, root, Q,
            [{"exp": {"lon": {"origin": {"lat": 10.0, "lon": 20.0},
                              "scale": "2000km", "lat_field": "lat",
                              "decay": 0.4}}}],
        ).collect()
    ]

    def hav(lon, lat):
        rad = math.pi / 180.0
        dlat, dlon = (lat - 10.0) * rad, (lon - 20.0) * rad
        a = (math.sin(dlat / 2) ** 2
             + math.cos(10.0 * rad) * math.cos(lat * rad)
             * math.sin(dlon / 2) ** 2)
        return 2 * 6371000.0 * math.asin(math.sqrt(a))

    lam = math.log(0.4) / 2_000_000.0
    want = _rank({
        d: s * math.exp(lam * hav(*pts[d])) for d, s in base.items()
    })
    assert got == [(d, pytest.approx(s)) for d, s in want]


def test_decay_over_missing_field_scores_one(spark, documents, tmp_path_factory):
    """ES scores a decay function over a doc's missing field 1.0, so under
    score_mode sum / avg the function still counts for that doc (a null
    would drop it like a function whose filter does not match). The weight
    scales the 1.0, and a filter that does not match still drops it."""
    from pyspark.sql import functions as F

    root = str(tmp_path_factory.mktemp("idx_fs_nulldecay"))
    null_id = (
        documents.filter(F.lower("text").contains("data"))
        .agg(F.min("doc_id")).first()[0]
    )
    build_index(
        spark,
        documents.withColumn(
            "nc", F.when(F.col("doc_id") == null_id, F.lit(None).cast("long"))
            .otherwise(F.col("n_chars")),
        ),
        root, content_col="text", id_col="doc_id", meta_cols=("lang", "nc"),
        tokenizer="standard", n_buckets=8, shard_size=100, n_ckpt_batches=2,
    )
    base = {
        r["docid"]: r["score"]
        for r in bool_query(spark, root, should=[Q], k=None).collect()
    }
    docs = {
        r["docid"]: (r["lang"], r["nc"])
        for r in spark.read.parquet(catalog.resolve(root) + "/docs")
        .select("docid", "lang", "nc").collect()
    }
    assert [d for d in base if docs[d][1] is None] != []
    gauss = {"nc": {"origin": 500, "scale": 300}}
    fns = [
        {"gauss": gauss, "weight": 3.0},
        {"gauss": gauss, "filter": {"term": {"lang": "fr"}}},
        {"filter": {"term": {"lang": "en"}}, "weight": 2.0},
    ]

    def f_vals(d):
        lang, nc = docs[d]
        g = 1.0 if nc is None else _gauss(nc, 500, 300)
        return [3.0 * g] + ([g] if lang == "fr" else []) + (
            [2.0] if lang == "en" else [])

    n = len(base)
    got_sum = _got(spark, root, fns, score_mode="sum", k=n)
    want = _rank({d: s * sum(f_vals(d)) for d, s in base.items()}, n)
    assert got_sum == [(d, pytest.approx(s)) for d, s in want]
    got_avg = _got(spark, root, fns, score_mode="avg", k=n)
    want = _rank(
        {d: s * sum(f_vals(d)) / len(f_vals(d)) for d, s in base.items()}, n
    )
    assert got_avg == [(d, pytest.approx(s)) for d, s in want]
