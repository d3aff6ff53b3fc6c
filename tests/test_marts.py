"""Semantic edge-case checks for the product_performance and
customer_sales_report marts. Their oracle parity is checked by
``tests/test_registry_oracle.py::test_query_matches_oracle``, which runs
every registered query, these two marts included."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_zero_sale_products_kept_with_null_aggs(spark):
    """Left join keeps never-sold products with NULL sum-aggregates
    (reference m_product_performance_task.py:34-39, no fillna)."""
    from asritha_metamorphetl_spark.pipelines.product_performance import (
        product_performance,
    )

    df = product_performance(spark, SF_SMOKE)
    sold_keys = (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .select("l_partkey")
        .distinct()
    )
    n_parts = spark.read.parquet(f"{SF_SMOKE}/part.parquet").count()
    assert df.count() == n_parts  # every product present
    unsold = df.join(
        sold_keys, df.product_id == sold_keys.l_partkey, "left_anti"
    )
    if unsold.count() > 0:
        row = unsold.first()
        assert row.total_sales_amount is None
        assert row.avg_sale_price is not None  # price comes from the product row


def test_loyalty_tier_boundaries(spark):
    """Tier thresholds: percent_rank ≤0.2 Gold, ≤0.5 Silver, else Bronze."""
    from asritha_metamorphetl_spark.pipelines.customer_sales_report import (
        customer_sales_report,
    )
    import pyspark.sql.functions as F

    df = customer_sales_report(spark, SF_SMOKE).cache()
    n = df.count()
    gold = df.filter("loyalty_tier = 'Gold'").count()
    silver = df.filter("loyalty_tier = 'Silver'").count()
    # percent_rank tiering: roughly 20% gold, 30% silver (ties can widen).
    assert 0.15 <= gold / n <= 0.30
    assert 0.20 <= silver / n <= 0.40
    # exactly one top performer per customer
    top = df.filter("top_performer = 'Yes'").groupBy("customer_id").count()
    assert top.filter(F.col("count") != 1).count() == 0
    df.unpersist()
