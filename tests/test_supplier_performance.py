"""Flagship-mart edge-case unit tests. Its oracle parity is checked by
``tests/test_registry_oracle.py::test_query_matches_oracle``, which runs
every registered query, supplier_performance included."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_smoke_rows(spark):
    from asritha_metamorphetl_spark.pipelines.supplier_performance import (
        supplier_performance,
    )

    df = supplier_performance(spark, SF_SMOKE)
    assert df.count() > 0


def test_no_sales_supplier_filled(spark, tmp_path):
    """A supplier with zero qualifying sales must survive the right join
    with 0-totals and 'No sales' (reference m_supplier_performance_task.py:136-150)."""
    import shutil

    # Clone sf0.001 then add a supplier key that no lineitem references.
    src = SF_SMOKE
    dst = tmp_path / "sf"
    dst.mkdir()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        shutil.copy(f"{src}/{t}.parquet", dst / f"{t}.parquet")

    sup = spark.read.parquet(f"{src}/supplier.parquet")
    extra = spark.createDataFrame(
        [(99999, "GHOST SUPPLIER", 0, 0.0)], schema=sup.schema
    )
    sup.unionByName(extra).write.mode("overwrite").parquet(
        str(dst / "supplier.parquet")
    )

    from asritha_metamorphetl_spark.pipelines.supplier_performance import (
        supplier_performance,
    )

    row = (
        supplier_performance(spark, str(dst))
        .filter("supplier_id = 99999")
        .collect()[0]
    )
    assert row.total_revenue == 0.0
    assert row.total_products_sold == 0
    assert row.top_selling_product == "No sales"
