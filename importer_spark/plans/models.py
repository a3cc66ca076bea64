"""The mart DAG over the testdata — the reference's fct_orders ref-chain
(SURVEY §3.2) re-expressed as composed models:

  stg_orders ───┐
                ├─ int_customer_orders ──┬─ mart_customer_health
  int_order_lines ─┘ (cached: fan-out)   └─ mart_segment_summary
  stg_customers ─────────────────────────┘

Layer conventions mirror dbt_project.yml:19-31: staging = pure projections
(views → lazy DataFrames), intermediate = shared aggregates (cached at
fan-out), marts = consumer-facing facts.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from importer_spark.functions import bucket, dec, out_double, ratio
from importer_spark.io import Tables
from importer_spark.plans.dag import model


@model("stg_customers")
def stg_customers(ctx):
    """Staging: clean projection + balance tier (stg_quickbooks__customers
    analog)."""
    t = Tables(ctx.spark, ctx.sf_dir)
    return t.customer.select(
        F.col("c_custkey").alias("cust_key"),
        F.coalesce(F.nullif(F.trim(F.col("c_name")), F.lit("")), F.lit("UNKNOWN")).alias(
            "cust_name"
        ),
        F.col("c_mktsegment").alias("mktsegment"),
        F.col("c_nationkey").alias("nation_key"),
        F.col("c_acctbal").alias("acctbal"),
        bucket(
            F.col("c_acctbal"), [0.0, 1000.0, 5000.0], ["delinquent", "bronze", "silver", "gold"]
        ).alias("balance_tier"),
    )


@model("stg_orders")
def stg_orders(ctx):
    """Staging: typed order projection + channel rules (int_quickbooks__orders
    channel CASE, precedence preserved). Reads the loaded ``orders`` when
    the context carries them."""
    orders = ctx.sources.get("orders") or Tables(ctx.spark, ctx.sf_dir).orders
    return orders.select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_custkey").alias("cust_key"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.col("o_orderdate").alias("order_ts"),
        F.col("o_orderstatus").alias("order_status"),
        dec(F.col("o_totalprice")).alias("total_price"),
        F.when(F.col("o_orderpriority").like("1-%"), "Express")
        .when(F.col("o_orderpriority").like("2-%"), "Priority")
        .otherwise("Standard")
        .alias("sales_channel"),
    )


@model("int_order_lines")
def int_order_lines(ctx):
    """Intermediate: per-order line rollup (base_quickbooks__order_items →
    order grain)."""
    t = Tables(ctx.spark, ctx.sf_dir)
    return t.lineitem.groupBy(F.col("l_orderkey").alias("order_key")).agg(
        F.count("*").alias("n_lines"),
        F.sum(dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)).alias(
            "net_amount"
        ),
        F.bool_or(F.col("l_returnflag") == "R").alias("any_return"),
    )


@model("int_customer_orders", deps=["stg_orders", "int_order_lines"])
def int_customer_orders(ctx):
    """Intermediate (fan-out → cached): per-customer order metrics
    (int_quickbooks__customer_revenue analog)."""
    o = ctx.ref("stg_orders")
    lines = ctx.ref("int_order_lines")
    joined = o.join(lines, "order_key", "left")
    return joined.groupBy("cust_key").agg(
        F.count("*").alias("n_orders"),
        out_double(F.sum(F.col("total_price"))).alias("revenue"),
        out_double(F.coalesce(F.sum("net_amount"), F.lit(0).cast("decimal(18,4)"))).alias(
            "net_line_revenue"
        ),
        F.max("order_date").alias("last_order_date"),
        F.count(F.when(F.col("sales_channel") == "Express", 1)).alias("n_express"),
        F.bool_or(F.col("any_return")).alias("ever_returned"),
    )


@model("mart_customer_health", deps=["stg_customers", "int_customer_orders"])
def mart_customer_health(ctx):
    """Mart: customer dim + order metrics + global revenue percentile +
    weighted health score (dim_company_health analog: percentile at :59,
    weighted score :117-124)."""
    from importer_spark.operators.ranks import percent_rank_col, with_global_rank_stats

    c = ctx.ref("stg_customers")
    m = ctx.ref("int_customer_orders")
    joined = c.join(m, "cust_key", "left").withColumn(
        "_rev0", F.coalesce(F.col("revenue"), F.lit(0.0))
    )
    # distributed percentile (no single-task global window) — the customer
    # relation is the mart's full grain
    ranked = with_global_rank_stats(
        joined,
        "_rev0",
        [F.col("_rev0").asc(), F.col("cust_key").asc()],
        materialize=False,  # r11: the eager checkpoint cost more than the
        # branch sharing saved here (A/B 2.94 s → 1.67 s without it; the
        # r10 ratchet trip) — ReusedExchange already shares the join's
        # shuffle across the cuts/bucketed/offsets branches
    )
    pct = F.round(percent_rank_col(), 6)
    score = F.round(
        F.least(F.lit(100.0), F.coalesce(F.col("n_orders"), F.lit(0)) * 5.0) * 0.4
        + F.coalesce(pct, F.lit(0.0)) * 100.0 * 0.6,
        6,
    )
    return ranked.select(
        "cust_key",
        "cust_name",
        "mktsegment",
        "balance_tier",
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        F.coalesce(F.col("revenue"), F.lit(0.0)).alias("revenue"),
        "last_order_date",
        F.coalesce(F.col("ever_returned"), F.lit(False)).alias("ever_returned"),
        pct.alias("revenue_percentile"),
        score.alias("health_score"),
    )


@model("mart_segment_summary", deps=["stg_customers", "int_customer_orders"])
def mart_segment_summary(ctx):
    """Second mart over the shared intermediate (exercises fan-out caching):
    segment-level rollup with express share (mart_company_period_metrics
    shape)."""
    c = ctx.ref("stg_customers")
    m = ctx.ref("int_customer_orders")
    joined = c.join(m, "cust_key", "inner")
    return joined.groupBy("mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.sum("n_orders").alias("n_orders"),
        out_double(F.sum(dec(F.col("revenue")))).alias("revenue"),
        ratio(F.sum("n_express"), F.sum("n_orders")).alias("express_share"),
        F.count(F.when(F.col("ever_returned"), 1)).alias("n_with_returns"),
    )
