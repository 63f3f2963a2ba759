"""Synthetic Olist fixture generator (reference S7, nb cell 4): the
generated raw tables feed the full pipeline, values are shaped like the
reference's pools/weights, and generation is deterministic."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_power_bi_dashboard_spark.operators import quality
from etl_power_bi_dashboard_spark.pipeline import run_pipeline
from etl_power_bi_dashboard_spark.sources.olist import SCHEMAS, extract_data
from etl_power_bi_dashboard_spark.sources.synthetic import synthetic_olist


def test_schemas_match_sources(spark):
    tables = synthetic_olist(spark)
    for name, df in tables.items():
        assert df.columns == [f.name for f in SCHEMAS[name].fields], name


def test_extract_reads_generated_fixture(spark, olist_raw_dir):
    raw = extract_data(spark, olist_raw_dir)
    assert raw is not None
    assert raw["customers"].count() == 100
    assert raw["orders"].count() == 200
    assert raw["order_items"].count() == 300
    assert "category_translation" in raw


def test_pipeline_runs_on_synthetic_fixture(spark, olist_raw_dir):
    dims, fact, aggs = run_pipeline(spark, olist_raw_dir)
    assert fact.count() > 0
    # every fact FK resolves (the generator only emits in-range ids)
    violations = quality.fk_violations(fact, dims)
    assert violations and all(v == 0 for v in violations.values()), violations
    # translation applied: categories are the five english pool values
    cats = {
        r[0]
        for r in dims["product"]
        .select("product_category_name_english")
        .distinct()
        .collect()
    }
    assert cats <= {"electronics", "furniture", "toys", "books", "clothing"}


def test_generated_values_shaped_like_reference(spark):
    t = synthetic_olist(spark)
    status = dict(
        t["orders"].groupBy("order_status").count().collect()
    )
    # 0.7/0.1/0.1/0.1 weights on 200 rows: delivered must dominate
    assert status.get("delivered", 0) > 100
    assert set(status) <= {"delivered", "shipped", "processing", "canceled"}
    pr = t["order_items"].agg(
        F.min("price"), F.max("price"), F.min("freight_value"), F.max("freight_value")
    ).first()
    assert 10 <= pr[0] and pr[1] < 1000 and 5 <= pr[2] and pr[3] < 100
    scores = {r[0] for r in t["reviews"].select("review_score").distinct().collect()}
    assert scores <= {1, 2, 3, 4, 5}
    # null-heavy comment columns (reference: every 3rd title, every 2nd msg)
    n_title = t["reviews"].filter(F.col("review_comment_title").isNotNull()).count()
    assert 0 < n_title < 200


def test_generation_is_deterministic(spark):
    a = synthetic_olist(spark)["orders"].orderBy("order_id").collect()
    b = synthetic_olist(spark)["orders"].orderBy("order_id").collect()
    assert a == b
