"""local_dim ≡ createDataFrame for every shipped literal dim (r16).

The optimization replaces Python-RDD-backed literal dims (parallelize →
one ~1s job per consumer spinning 32 Python workers) with VALUES-backed
LocalRelations (constant-folded, zero jobs). These tests pin the
equivalence contract: identical column names/types and identical rows
for every dim the engine ships, plus the plan property the optimization
exists for (LocalTableScan — no parallelize, no Exchange) and the
literal-escaping edge cases.
"""

from __future__ import annotations

import pytest

from ig_etl_with_user_reports_2024_spark.functions.local_dim import local_dim


def _shipped_dims():
    import ig_etl_with_user_reports_2024_spark.dims as dims
    import ig_etl_with_user_reports_2024_spark.operators.textops as tx
    from ig_etl_with_user_reports_2024_spark.plans.star_classifiers import (
        _J4_DIM,
        _PRICING_DIM,
    )
    from ig_etl_with_user_reports_2024_spark.plans.star_pipeline import (
        _BM25_QUERIES,
    )
    from ig_etl_with_user_reports_2024_spark.plans.star_queries import (
        _J2_KEYWORDS,
    )
    from ig_etl_with_user_reports_2024_spark.plans.star_topk_scalars import (
        _X10_PRIORITY,
    )

    return [
        (
            "niche",
            [(c, o, k) for c, o, ks in dims.NICHE_KEYWORDS for k in ks],
            "category string, cat_ord int, keyword string",
        ),
        (
            "gender",
            [(g, p, k) for g, p, ks in dims.GENDER_KEYWORDS for k in ks],
            "gender string, gprio int, keyword string",
        ),
        (
            "pricing",
            dims.PRICING,
            "creator_type string, tier string, base_price double, "
            "roi string, impressions string",
        ),
        ("platform", dims.PLATFORM_DOMAINS, "platform string, domain string"),
        (
            "lang",
            [(l, p, w) for l, p, ws in tx.LANG_STOPWORDS for w in ws],
            "lang string, prio int, word string",
        ),
        (
            "qterms",
            [(q, t) for q, ts in _BM25_QUERIES for t in ts],
            "query_id int, token string",
        ),
        (
            "c3_pricing",
            _PRICING_DIM,
            "tier string, base_price double, roi string, impressions string",
        ),
        ("j4", _J4_DIM, "category string, kw string"),
        ("j2", _J2_KEYWORDS, "kw string, ord int"),
        ("x10", _X10_PRIORITY, "seg string, prio int"),
    ]


def test_local_dim_matches_createdataframe_for_all_shipped_dims(spark):
    for name, rows, schema in _shipped_dims():
        a = local_dim(spark, rows, schema)
        b = spark.createDataFrame(rows, schema)
        assert [(f.name, f.dataType) for f in a.schema.fields] == [
            (f.name, f.dataType) for f in b.schema.fields
        ], name
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        ), name


def test_local_dim_is_a_local_table_scan(spark):
    df = local_dim(spark, [(1, "a")], "i int, s string")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "Exchange" not in plan and "parallelize" not in plan


def test_local_dim_escaping_and_types(spark):
    rows = [
        (1, "it's", 1.333, None),
        (2, 'back\\slash "q"', 2.0, "x"),
        (3, "plain", -0.5, None),
    ]
    schema = "i int, s string, d double, n string"
    a = local_dim(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # float literals must round-trip to the identical double
    assert {r.d for r in a.collect()} == {1.333, 2.0, -0.5}


def test_local_dim_empty_falls_back(spark):
    df = local_dim(spark, [], "u string")
    assert df.collect() == [] and df.schema.simpleString() == "struct<u:string>"


def test_local_dim_rejects_non_literals(spark):
    with pytest.raises(TypeError):
        local_dim(spark, [(object(),)], "o string")


@pytest.mark.parametrize(
    "schema",
    [
        "k string, amount decimal(38,0)",
        "k string, tags map<string,int>",
        "k string, s struct<a:int>",
    ],
)
def test_local_dim_rejects_parameterized_and_nested_types(spark, schema):
    with pytest.raises(ValueError, match="simple types"):
        local_dim(spark, [("a", None)], schema)


@pytest.mark.parametrize("v", [float("inf"), float("-inf"), float("nan")])
def test_local_dim_rejects_non_finite_floats(spark, v):
    with pytest.raises(ValueError, match="finite"):
        local_dim(spark, [("a", v)], "k string, d double")
