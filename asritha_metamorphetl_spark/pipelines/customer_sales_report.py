"""Customer-sales-report mart.

Re-expresses ETL_Airflow/dags/tasks/m_customer_sales_report_task.py:13-166
on the TPC-H-ish tables (FIXTURES.md §B):

    sales     ← lineitem ⋈ orders  (SALE_ID ← orderkey-linenumber,
                                    DISCOUNT ← l_discount*100, i.e. percent
                                    semantics — this mart treats DISCOUNT
                                    as a percentage, task:101, unlike the
                                    supplier mart's absolute amount)
    products  ← part
    customers ← customer (+ nation for CITY)

Reference semantics preserved:
- keep only Delivered/Shipped orders (task:45-48; here status 'O','P'),
- sales LEFT JOIN products, then INNER JOIN customers (task:52-78),
- SALE_AMOUNT = round(QUANTITY * PRICE * (1 − DISCOUNT/100), 2) (task:101),
- global percent_rank tiering: Gold ≤ 0.2 < Silver ≤ 0.5 < Bronze
  (task:106-122) — see operators/ranks.py for the scale-safe variant of
  this single-partition window,
- per-customer top-performer flag via row_number (task:126-138), ties
  pinned by sale key (reference leaves ties nondeterministic).

Documented deviation: the reference overwrites SALE_DATE with
``date_sub(current_date(), 1)`` and stamps DAY_DT/LOAD_TSTMP wall-clock
audit columns (task:97-102). Those are nondeterministic; this query derives
SALE_DATE from o_orderdate so results are reproducible and
oracle-checkable. `with_audit_columns` adds the wall-clock columns for
production writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from asritha_metamorphetl_spark.operators.nodes import fil_node, jnr_node, sq_node
from asritha_metamorphetl_spark.operators.ranks import global_percent_rank
from asritha_metamorphetl_spark.sources.files import Catalog

ACTIVE_STATUSES = ("O", "P")


def customer_sales_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(sf_dir)

    sq_lineitem = sq_node(
        cat.load(spark, "lineitem"),
        "SQ_lineitem",
        ["l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_discount"],
    )
    sq_orders = sq_node(
        cat.load(spark, "orders"),
        "SQ_orders",
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"],
    )
    # Narrow measure projection for the rank/window phase; the display
    # attributes (p_name/p_type, c_name, nation) are attached AFTER the
    # heavy shuffles so the window exchange moves keys+numbers, not
    # strings (a 100 TB frame shuffles its widest column set — keep it
    # minimal through every Exchange). Each table is loaded once (a load
    # costs a schema-inference job) and feeds both projections.
    part = cat.load(spark, "part")
    customer = cat.load(spark, "customer")
    sq_part = sq_node(part, "SQ_products", ["p_partkey", "p_retailprice"])
    sq_customer = sq_node(customer, "SQ_customers", ["c_custkey"])

    fil_orders = fil_node(
        sq_orders, "FIL_sales_data", F.col("o_orderstatus").isin(*ACTIVE_STATUSES)
    )

    sales = jnr_node(
        sq_lineitem,
        fil_orders,
        "JNR_sales",
        on=F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(
        F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber")).alias("sale_id"),
        F.col("l_orderkey").alias("_ok"),
        F.col("l_linenumber").alias("_ln"),
        F.col("o_custkey").alias("customer_id"),
        F.col("l_partkey").alias("product_id"),
        # ISO string, not DateType: date objects round-trip through pandas
        # with engine-specific dtypes and break value-hash comparison.
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("sale_date"),
        F.col("l_quantity").alias("quantity"),
        F.col("l_discount"),
        (F.col("l_discount") * 100).alias("discount"),
    )

    with_products = jnr_node(
        sales,
        sq_part,
        "JNR_sales_products",
        on=F.col("product_id") == F.col("p_partkey"),
        how="left",
    )

    # Existence-only inner join on the customer KEY (c_custkey is the PK,
    # so cardinality is unchanged); name/city attach post-window.
    all_data = jnr_node(
        with_products,
        sq_customer,
        "JNR_all_entities",
        on=F.col("customer_id") == F.col("c_custkey"),
        how="inner",
    )

    # Pinned (round 13): global_percent_rank consumes its input twice
    # (the distinct-value pass + the pr attach), and here that input is
    # the lineitem⋈orders⋈part join — unpinned, the join and its
    # shuffles ran twice (the plan scanned lineitem/orders twice). The
    # frame at this point is already NARROW (keys + numbers + an ISO
    # date string; display attributes attach post-window), so one lazy
    # materialization is cheaper than re-running a fact-fact join at
    # any scale.
    metrics = all_data.withColumns(
        {
            # bigint to match the oracle's EXTRACT() type exactly.
            "sale_month": F.month("sale_date").cast("bigint"),
            "sale_year": F.year("sale_date").cast("bigint"),
            "price": F.round(F.col("p_retailprice"), 2),
            # Decimal arithmetic, not double: qty*price*(1-disc) has up to 6
            # decimal digits, and double round() diverges between engines on
            # .xx5 boundaries (Spark rounds the shortest decimal repr,
            # DuckDB the exact binary value). Exact decimals round
            # identically everywhere.
            "sale_amount": F.round(
                F.col("quantity").cast("decimal(10,2)")
                * F.col("p_retailprice").cast("decimal(10,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")),
                2,
            ).cast("double"),
        }
    ).localCheckpoint(eager=False)

    # W3: global percent_rank tiering (reference task:106-122). The
    # reference's unpartitioned window funnels every row through ONE
    # partition; global_percent_rank ranks only the distinct sale_amounts
    # (column-pruned second pass over the join — narrow columns, all
    # broadcast joins) and maps pr back via a broadcastable join, so the
    # mart itself survives a 100-TB frame.
    tiered = global_percent_rank(
        metrics,
        F.col("sale_amount"),
        descending=True,
        out_col="percent_rank",
    ).withColumn(
        "loyalty_tier",
        F.when(F.col("percent_rank") <= 0.2, "Gold")
        .when((F.col("percent_rank") > 0.2) & (F.col("percent_rank") <= 0.5), "Silver")
        .otherwise("Bronze"),
    )

    # W2: top-performer flag per customer; ties pinned by sale key plus
    # product/quantity — (l_orderkey, l_linenumber) is NOT unique in the
    # synthetic data, so the sale key alone is not a total order.
    rank_window = Window.partitionBy("customer_id").orderBy(
        F.col("sale_amount").desc(),
        F.col("_ok").asc(),
        F.col("_ln").asc(),
        F.col("product_id").asc(),
        F.col("quantity").asc(),
    )
    flagged = tiered.withColumn("rn", F.row_number().over(rank_window)).withColumn(
        "top_performer", F.when(F.col("rn") == 1, "Yes").otherwise("No")
    )

    # Attach display attributes now that the rank/window shuffles are done
    # — AQE broadcasts these joins at runtime while the dimensions fit
    # (no static hint: part/customer scale with the data), so no further
    # pre-window Exchange sees the string columns.
    part_attrs = sq_node(
        part, "SQ_product_attrs", ["p_partkey", "p_name", "p_type"]
    )
    sq_nation = sq_node(
        cat.load(spark, "nation"), "SQ_nation", ["n_nationkey", "n_name"]
    )
    customer_attrs = jnr_node(
        sq_node(
            customer,
            "SQ_customer_attrs",
            ["c_custkey", "c_name", "c_nationkey"],
        ).withColumnRenamed("c_custkey", "ca_custkey"),
        F.broadcast(sq_nation),
        "JNR_customers_nation",
        on=F.col("c_nationkey") == F.col("n_nationkey"),
        how="left",
    ).select(
        F.col("ca_custkey"),
        F.col("c_name").alias("customer_name"),
        F.col("n_name").alias("city"),
    )
    flagged = jnr_node(
        flagged.drop("p_partkey"),
        part_attrs,
        "JNR_product_attrs",
        on=F.col("product_id") == F.col("p_partkey"),
        how="left",
    )
    flagged = jnr_node(
        flagged,
        customer_attrs,
        "JNR_customer_attrs",
        on=F.col("customer_id") == F.col("ca_custkey"),
        how="inner",
    )

    return flagged.select(
        "customer_id",
        "customer_name",
        "sale_id",
        "city",
        F.col("p_name").alias("product_name"),
        F.col("p_type").alias("category"),
        "sale_date",
        "sale_month",
        "sale_year",
        "quantity",
        "price",
        "sale_amount",
        "top_performer",
        "loyalty_tier",
    )


def with_audit_columns(df: DataFrame) -> DataFrame:
    """Production audit columns (reference task:97-102): snapshot date +
    load timestamp. Kept out of the deterministic query surface."""
    return df.withColumns(
        {"day_dt": F.current_date(), "load_tstmp": F.current_timestamp()}
    )


ORACLE_SQL = """
WITH sales AS (
    SELECT
        CAST(l.l_orderkey AS VARCHAR) || '-' || CAST(l.l_linenumber AS VARCHAR)
            AS sale_id,
        l.l_orderkey AS _ok,
        l.l_linenumber AS _ln,
        o.o_custkey AS customer_id,
        l.l_partkey AS product_id,
        strftime(o.o_orderdate, '%Y-%m-%d') AS sale_date,
        l.l_quantity AS quantity,
        l.l_discount,
        l.l_discount * 100 AS discount
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus IN ('O', 'P')
),
with_products AS (
    SELECT s.*, p.p_name, p.p_type, p.p_retailprice
    FROM sales s
    LEFT JOIN part p ON s.product_id = p.p_partkey
),
all_data AS (
    SELECT wp.*, c.c_name AS customer_name, n.n_name AS city
    FROM with_products wp
    JOIN customer c ON wp.customer_id = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
),
metrics AS (
    SELECT *,
        EXTRACT(MONTH FROM CAST(sale_date AS DATE)) AS sale_month,
        EXTRACT(YEAR FROM CAST(sale_date AS DATE)) AS sale_year,
        ROUND(p_retailprice, 2) AS price,
        CAST(ROUND(CAST(quantity AS DECIMAL(10,2))
                   * CAST(p_retailprice AS DECIMAL(10,2))
                   * (1 - CAST(l_discount AS DECIMAL(4,2))), 2)
             AS DOUBLE) AS sale_amount
    FROM all_data
),
tiered AS (
    SELECT *,
        PERCENT_RANK() OVER (ORDER BY sale_amount DESC) AS pr
    FROM metrics
),
flagged AS (
    SELECT *,
        ROW_NUMBER() OVER (
            PARTITION BY customer_id
            ORDER BY sale_amount DESC, _ok ASC, _ln ASC,
                     product_id ASC, quantity ASC) AS rn
    FROM tiered
)
SELECT
    customer_id,
    customer_name,
    sale_id,
    city,
    p_name AS product_name,
    p_type AS category,
    sale_date,
    sale_month,
    sale_year,
    quantity,
    price,
    sale_amount,
    CASE WHEN rn = 1 THEN 'Yes' ELSE 'No' END AS top_performer,
    CASE WHEN pr <= 0.2 THEN 'Gold'
         WHEN pr > 0.2 AND pr <= 0.5 THEN 'Silver'
         ELSE 'Bronze'
    END AS loyalty_tier
FROM flagged
"""
