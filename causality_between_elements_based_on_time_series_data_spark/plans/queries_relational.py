"""Relational operator surface (SURVEY.md §2.2-2.4, §2.6-2.8).

The reference has no relational engine — its joins are positional list
alignment (``/root/reference/run.py:44-55``, ``model.py:161-164``) and
its projections are hard-coded tensor slices (``model.py:132``).  Here
the full surface is exposed declaratively so Catalyst supplies
pushdown, pruning, join selection, and partial aggregation for free
(SURVEY §4.2).

Every query aliases computed columns identically in the Spark plan and
the DuckDB oracle, rounds float aggregates on both sides, and casts
DuckDB integer SUMs to BIGINT (DuckDB widens to HUGEINT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lineage import ckpt

from ..sources.catalog import load_table, local_frame
from .registry import register

CUTOFF = "1998-09-02"
Q3_DATE = "1996-06-30"


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                   AS avg_qty,
           round(avg(l_extendedprice), 4)                              AS avg_price,
           round(avg(l_discount), 4)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{CUTOFF} 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 pricing summary: filter -> groupBy -> 8 aggregates. "
    "Partial (map-side) aggregation + whole-stage codegen are Catalyst-automatic.",
    tags=("relational", "agg", "bench"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(net), 2).alias("sum_disc_price"),
            F.round(F.sum(net * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT o_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '{Q3_DATE} 00:00:00'
      AND l_shipdate  > TIMESTAMP '{Q3_DATE} 00:00:00'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3: selective 3-way join -> agg -> distributed top-k "
    "(TakeOrderedAndProject; no full sort at scale).",
    tags=("relational", "join", "topk", "bench"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(Q3_DATE).cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(Q3_DATE).cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_revenue",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
    GROUP BY n_name
    """,
    doc="TPC-H Q5: 6-way join with two broadcast dims (nation, region). "
    "Only the fixed-size dims carry broadcast hints — supplier grows "
    "linearly with SF, so AQE decides its join strategy at runtime "
    "(BHJ while it fits, SMJ beyond); Catalyst join reordering + AQE "
    "pick the physical order.",
    tags=("relational", "join", "bench"),
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@register(
    "filter_project_pushdown",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS net_price
    FROM lineitem
    WHERE l_quantity > 45 AND l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
    """,
    doc="Projection + conjunctive predicate; both reach the parquet scan "
    "(PushedFilters / pruned ReadSchema) — SURVEY §2.2 [GAP] surface.",
    tags=("relational", "filter"),
)
def filter_project_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 45) & (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net_price"),
    )


@register(
    "semi_join_big_spenders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """,
    doc="LEFT SEMI join (EXISTS) — SURVEY §2.3 [GAP]; semi-join avoids "
    "materializing the probe side's payload columns.",
    tags=("relational", "join"),
)
def semi_join_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "anti_join_no_big_orders",
    oracle="""
    SELECT c_custkey, c_nationkey
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """,
    doc="LEFT ANTI join (NOT EXISTS) — SURVEY §2.3 [GAP].",
    tags=("relational", "join"),
)
def anti_join_no_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_anti").select("c_custkey", "c_nationkey")


@register(
    "broadcast_dim_brand_volume",
    oracle="""
    SELECT p_brand,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*)                  AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
    doc="Fact⋈dim with an explicit broadcast hint on the dimension "
    "(SURVEY §2.3: B-matrix broadcast analog, model.py:179) — no shuffle "
    "of the fact table for the join, only for the final agg.",
    tags=("relational", "join", "broadcast", "bench"),
)
def broadcast_dim_brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count("*").alias("n_lines"))
    )


@register(
    "agg_distinct_parts_per_flag",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS distinct_parts,
           count(DISTINCT l_suppkey) AS distinct_supps,
           count(*)                  AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Multi-distinct aggregation — SURVEY §2.4 [GAP]; Spark expands "
    "to a two-phase distinct-agg plan automatically.",
    tags=("relational", "agg"),
)
def agg_distinct_parts_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_supps"),
        F.count("*").alias("n"),
    )


@register(
    "rollup_sales",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           round(sum(l_extendedprice), 2) AS sum_price,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    doc="ROLLUP hierarchy totals — SURVEY §2.4 [GAP] grouping sets.",
    tags=("relational", "agg"),
)
def rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("sum_price"), F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_price",
            "n",
        )
    )


@register(
    "cube_status_priority",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL')   AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           round(sum(o_totalprice), 2)      AS total,
           count(*)                         AS n
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    doc="CUBE over two dimensions — SURVEY §2.4 [GAP] grouping sets.",
    tags=("relational", "agg"),
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total"), F.count("*").alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "total",
            "n",
        )
    )


@register(
    "pivot_linestatus",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 4) AS qty_open,
           round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 4) AS qty_filled
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Pivot with a fixed value list (Spark .pivot ≡ FILTERed aggregates); "
    "fixed values keep it one pass, no extra distinct job.",
    tags=("relational", "agg"),
)
def pivot_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 4))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
    )


@register(
    "top_k_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    doc="Global top-k — SURVEY §2.6; Spark plans TakeOrderedAndProject "
    "(per-partition heap + driver merge), never a full sort.",
    tags=("relational", "topk"),
)
def top_k_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select("o_orderkey", "o_totalprice").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    ).limit(10)


@register(
    "set_union_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
    doc="UNION (distinct) — SURVEY §2.7; unionByName + dropDuplicates.",
    tags=("relational", "setop"),
)
def set_union_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).dropDuplicates()


@register(
    "set_intersect_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
    doc="INTERSECT (SURVEY §2.7): distinct nation keys present on "
    "BOTH the customer and supplier side — hash-aggregated semi "
    "semantics, one keyed shuffle per leg.",
    tags=("relational", "setop"),
)
def set_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "set_except_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
    doc="EXCEPT (SURVEY §2.7): distinct customer nation keys with "
    "no supplier presence — anti semantics with distinct, one keyed "
    "shuffle per leg (exceptAll is the multiset twin).",
    tags=("relational", "setop"),
)
def set_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)  # EXCEPT DISTINCT semantics (exceptAll keeps multiplicity)


@register(
    "scalar_function_surface",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(1.0 / (1.0 + exp(-(l_discount * 10 - 0.3))), 6) AS sig,
           round((CASE WHEN (l_tax * 5) >= 0 THEN 1 - 2 / (exp(2 * (l_tax * 5)) + 1)
                       ELSE 2 / (exp(-2 * (l_tax * 5)) + 1) - 1 END), 6) AS th,
           round(sqrt(l_quantity), 6)                            AS sqrt_qty,
           round(ln(1 + l_extendedprice), 6)                     AS log_price,
           round(abs(l_discount - 0.05), 6)                      AS abs_disc,
           CAST(l_quantity >= 25 AS INTEGER)                     AS qty_ge_25
    FROM lineitem
    WHERE l_linenumber = 1
    """,
    doc="Scalar math surface of SURVEY §2.8 in one row-level query: "
    "sigmoid (model.py:154), tanh (model.py:77), sqrt (model.py:178), "
    "log1p, abs, bool cast + >= threshold (model.py:158).",
    tags=("relational", "scalar"),
)
def scalar_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scalar import sigmoid

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(sigmoid(F.col("l_discount") * 10 - 0.3), 6).alias("sig"),
        F.round(F.tanh(F.col("l_tax") * 5), 6).alias("th"),
        F.round(F.sqrt("l_quantity"), 6).alias("sqrt_qty"),
        F.round(F.log1p("l_extendedprice"), 6).alias("log_price"),
        F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("abs_disc"),
        (F.col("l_quantity") >= 25).cast("int").alias("qty_ge_25"),
    )


@register(
    "date_parts_order_volume",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER)  AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           count(*)                            AS n,
           round(sum(o_totalprice), 2)         AS total
    FROM orders
    GROUP BY 1, 2
    """,
    doc="Datetime function surface (SURVEY §2.8 datetime row): "
    "year/month extraction + grouped agg.",
    tags=("relational", "datetime"),
)
def date_parts_order_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@register(
    "salted_hot_key_agg",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_quantity), 2)      AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price,
           count(*)                       AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Two-phase salted aggregation over a 3-value hot key (the "
    "reference's task column shape): phase 1 groups by (key, salt) to "
    "fan out across reducers, phase 2 combines. Result identical to "
    "the direct groupBy — the oracle proves it; the salt only "
    "reshapes the shuffle for skew (SURVEY §4.2 / 100 TB).",
    tags=("relational", "agg", "skew"),
)
def salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_agg

    li = load_table(spark, sf_dir, "lineitem")
    out = salted_agg(
        li,
        keys=["l_returnflag"],
        sums={"raw_qty": F.col("l_quantity"), "raw_price": F.col("l_extendedprice")},
        count_alias="n",
    )
    return out.select(
        "l_returnflag",
        F.round("raw_qty", 2).alias("sum_qty"),
        F.round("raw_price", 2).alias("sum_price"),
        "n",
    )


@register(
    "percentile_by_status",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           count(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="Exact interpolated percentiles (Spark percentile ≡ DuckDB "
    "quantile_cont). At 100 TB swap to percentile_approx (t-digest "
    "sketch, one pass, mergeable) — same plan shape.",
    tags=("relational", "agg"),
)
def percentile_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        F.count("*").alias("n"),
    )


@register(
    "grouping_sets_explicit",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL')   AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    doc="Explicit GROUPING SETS (beyond rollup/cube) — SURVEY §2.4 "
    "[GAP]; one shuffle, Expand-node fan-out.",
    tags=("relational", "agg"),
)
def grouping_sets_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL')   AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "unpivot_lineitem_metrics",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
           round(l_quantity, 4) AS val
    FROM lineitem WHERE l_linenumber = 1
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice' AS metric,
           round(l_extendedprice, 4) AS val
    FROM lineitem WHERE l_linenumber = 1
    """,
    doc="Unpivot (wide → tall) — the inverse of pivot; Spark's "
    "df.unpivot ≡ UNION ALL of per-column projections.",
    tags=("relational", "setop"),
)
def unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    return (
        li.select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_extendedprice"],
            "metric",
            "raw_val",
        )
        .select("l_orderkey", "l_linenumber", "metric", F.round("raw_val", 4).alias("val"))
    )


@register(
    "merge_upsert_customers",
    oracle="""
    WITH updates AS (
        SELECT c_custkey, round(c_acctbal * 1.1, 2) AS acctbal
        FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    untouched AS (
        SELECT c_custkey, round(c_acctbal, 2) AS acctbal
        FROM customer
        WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
    )
    SELECT * FROM updates UNION ALL SELECT * FROM untouched
    """,
    doc="MERGE INTO emulation (anti-join + union — the pre-Delta CDC "
    "pattern): a 10% balance bump for one segment upserted over the "
    "full customer table; updates win on key collision.",
    tags=("relational", "upsert"),
)
def merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.upsert import merge_upsert

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.round("c_acctbal", 2).alias("acctbal")
    )
    updates = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", F.round(F.col("c_acctbal") * 1.1, 2).alias("acctbal"))
    )
    return merge_upsert(cust, updates, "c_custkey")


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6: pure scan-filter-aggregate; every predicate reaches "
    "the parquet reader, no shuffle at all (single global agg).",
    tags=("relational", "filter", "bench"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
        F.count("*").alias("n"),
    )


@register(
    "q12_priority_shipping",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
    doc="TPC-H Q12 shape: join + conditional (CASE) aggregation.",
    tags=("relational", "join", "agg"),
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q14_promo_revenue_pct",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
    """,
    doc="TPC-H Q14 shape: ratio of conditional to total aggregate over "
    "a broadcast dimension join.",
    tags=("relational", "join", "agg"),
)
def q14_promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", net).otherwise(0.0))
                / F.sum(net),
                4,
            ).alias("promo_pct")
        )
    )


@register(
    "q18_large_volume_orders",
    oracle="""
    SELECT c_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice,
           round(total_qty, 4) AS total_qty
    FROM (
        SELECT l_orderkey, sum(l_quantity) AS total_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
    ) big
    JOIN orders   ON o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q18 shape: HAVING-filtered aggregate subquery joined "
    "back to dimensions, distributed top-k.",
    tags=("relational", "join", "topk"),
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("raw_qty"))
        .filter(F.col("raw_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("raw_qty", 4).alias("total_qty"),
        )
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "q19_disjunctive_predicates",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#21' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 40)
    """,
    doc="TPC-H Q19 shape: disjunction of conjunctive ranges across "
    "both join sides — exercises CNF conversion and partial-predicate "
    "pushdown (the p_brand/p_size arm prunes the dimension scan).",
    tags=("relational", "join", "filter"),
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    arm1 = (
        (F.col("p_brand") == "Brand#11")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 21)
    )
    arm2 = (
        (F.col("p_brand") == "Brand#21")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 40)
    )
    return j.filter(arm1 | arm2).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count("*").alias("n"),
    )


@register(
    "sketch_approx_distinct",
    oracle=None,  # PERMANENTLY rows-only: Spark's HyperLogLogPlusPlus
    # implements only the dense estimator — it omits the paper's sparse
    # (exact-below-threshold) representation that DuckDB has — so no rsd
    # makes it exact at ANY cardinality (measured at sf0.01: rsd=0.02 is
    # off by +19/-63 per group, and rsd<=0.005 only grows the dense
    # register array until memory blows, never converging to exact).
    # Compensating check: tolerance vs exact countDistinct in
    # tests/test_operators.py.
    doc="approx_count_distinct (HyperLogLog++) per group — the "
    "mergeable-sketch path that replaces exact distinct counting at "
    "100 TB (one pass, constant memory, no distinct expansion).",
    tags=("relational", "agg", "sketch"),
)
def sketch_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
    )


@register(
    "string_function_surface",
    oracle="""
    SELECT c_custkey,
           upper(c_name)                       AS name_upper,
           substr(c_name, 1, 8)                AS name_prefix,
           concat_ws('-', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_nation,
           CAST(length(c_name) AS INTEGER)     AS name_len,
           replace(c_name, '0', 'x')           AS name_sub,
           CAST(strpos(c_name, '1') AS INTEGER) AS pos_1
    FROM customer
    """,
    doc="String function surface (SURVEY §2.8 string row): case, "
    "substring, concat_ws, length, replace, position — all map-side "
    "column expressions.",
    tags=("relational", "scalar"),
)
def string_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat_ws("-", "c_mktsegment", F.col("c_nationkey").cast("string")).alias("seg_nation"),
        F.length("c_name").cast("int").alias("name_len"),
        F.replace(F.col("c_name"), F.lit("0"), F.lit("x")).alias("name_sub"),
        F.instr("c_name", "1").cast("int").alias("pos_1"),
    )


@register(
    "date_function_surface",
    oracle="""
    SELECT o_orderkey,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           CAST(day(o_orderdate) AS INTEGER)     AS dom,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           last_day(CAST(o_orderdate AS DATE))   AS month_end,
           CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS INTEGER) AS days_since,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date
    FROM orders
    WHERE o_orderkey % 10 = 0
    """,
    doc="Datetime function surface (SURVEY §2.8 datetime row): "
    "quarter/day extraction, month truncation, last_day, datediff, "
    "interval arithmetic.",
    tags=("relational", "datetime"),
)
def date_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    return orders.select(
        "o_orderkey",
        F.quarter("o_orderdate").alias("qtr"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.last_day("o_orderdate").alias("month_end"),
        F.datediff("o_orderdate", F.lit("1995-01-01").cast("date")).alias("days_since"),
        F.date_add("o_orderdate", 30).alias("due_date"),
    )


@register(
    "left_outer_order_counts",
    oracle="""
    SELECT c_custkey,
           CAST(count(o_orderkey) AS BIGINT) AS n_orders,
           round(coalesce(sum(o_totalprice), 0.0), 2) AS total_spent
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
    doc="LEFT OUTER join preserving customers with zero orders "
    "(count over the nullable side + coalesced sum) — §2.3 outer "
    "family.",
    tags=("relational", "join", "outer"),
)
def left_outer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


@register(
    "full_outer_nation_presence",
    oracle="""
    SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
           CAST(c.n_cust IS NOT NULL AS INTEGER) AS has_customers,
           CAST(s.n_supp IS NOT NULL AS INTEGER) AS has_suppliers
    FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust
          FROM customer GROUP BY 1) c
    FULL OUTER JOIN
         (SELECT s_nationkey AS nationkey, count(*) AS n_supp
          FROM supplier GROUP BY 1) s
    USING (nationkey)
    """,
    doc="FULL OUTER join over two aggregated sides with null-presence "
    "flags — §2.3 outer family.",
    tags=("relational", "join", "outer"),
)
def full_outer_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_supp"))
    )
    return c.join(s, "nationkey", "full_outer").select(
        "nationkey",
        F.col("n_cust").isNotNull().cast("int").alias("has_customers"),
        F.col("n_supp").isNotNull().cast("int").alias("has_suppliers"),
    )


@register(
    "cross_join_region_pairs",
    oracle="""
    SELECT a.r_name AS region_a, b.r_name AS region_b
    FROM region a CROSS JOIN region b
    WHERE a.r_regionkey < b.r_regionkey
    """,
    doc="Explicit CROSS JOIN (tiny dimension self-pairing) — the only "
    "sanctioned cartesian in the engine; everything larger goes "
    "through inverted-index / LSH / broadcast candidate generation.",
    tags=("relational", "join"),
)
def cross_join_region_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    a = r.select(F.col("r_regionkey").alias("ka"), F.col("r_name").alias("region_a"))
    b = r.select(F.col("r_regionkey").alias("kb"), F.col("r_name").alias("region_b"))
    return a.crossJoin(b).filter(F.col("ka") < F.col("kb")).select("region_a", "region_b")


@register(
    "regexp_function_surface",
    oracle="""
    SELECT c_custkey,
           regexp_extract(c_name, '[0-9]+')                    AS first_digits,
           CAST(len(regexp_extract_all(c_name, '[0-9]')) AS INTEGER) AS digit_count,
           regexp_replace(c_name, '[0-9]', '#', 'g')           AS masked,
           CAST(regexp_matches(c_name, '[0-9]{3}') AS INTEGER) AS has_3digits
    FROM customer
    """,
    doc="Regexp function surface (SURVEY §2.8 [GAP]): extract, count, "
    "global replace, match predicate — patterns restricted to the "
    "POSIX-compatible subset both engines implement identically.",
    tags=("relational", "scalar", "regexp"),
)
def regexp_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.regexp_extract("c_name", "[0-9]+", 0).alias("first_digits"),
        F.regexp_count("c_name", F.lit("[0-9]")).cast("int").alias("digit_count"),
        F.regexp_replace("c_name", "[0-9]", "#").alias("masked"),
        F.col("c_name").rlike("[0-9]{3}").cast("int").alias("has_3digits"),
    )


@register(
    "conditional_null_surface",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_quantity < 10 THEN 'low'
                WHEN l_quantity < 35 THEN 'mid'
                ELSE 'high' END                          AS qty_band,
           round(coalesce(nullif(l_discount, 0.0), -1.0), 4) AS disc_or_flag,
           round(greatest(l_tax, l_discount), 4)         AS max_rate,
           round(least(l_tax, l_discount), 4)            AS min_rate
    FROM lineitem
    WHERE l_linenumber = 2
    """,
    doc="Conditional / null-handling surface: CASE chains, "
    "nullif+coalesce, greatest/least (SURVEY §2.8 comparison rows).",
    tags=("relational", "scalar"),
)
def conditional_null_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 2)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_quantity") < 10, "low")
        .when(F.col("l_quantity") < 35, "mid")
        .otherwise("high")
        .alias("qty_band"),
        F.round(F.coalesce(F.nullif("l_discount", F.lit(0.0)), F.lit(-1.0)), 4).alias(
            "disc_or_flag"
        ),
        F.round(F.greatest("l_tax", "l_discount"), 4).alias("max_rate"),
        F.round(F.least("l_tax", "l_discount"), 4).alias("min_rate"),
    )


@register(
    "set_intersect_all_multiset",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT ALL
    SELECT s_nationkey FROM supplier
    """,
    doc="Multiset INTERSECT ALL (min multiplicity per value) — "
    "completes the §2.7 set-op family with bag semantics.",
    tags=("relational", "setop"),
)
def set_intersect_all_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersectAll(s)


@register(
    "set_except_all_multiset",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT ALL
    SELECT s_nationkey FROM supplier
    """,
    doc="Multiset EXCEPT ALL (multiplicity subtraction) — §2.7.",
    tags=("relational", "setop"),
)
def set_except_all_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.exceptAll(s)


@register(
    "correlated_min_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders o
    WHERE o_totalprice = (SELECT min(o2.o_totalprice) FROM orders o2
                          WHERE o2.o_custkey = o.o_custkey)
    """,
    doc="TPC-H Q2-style correlated aggregate subquery (cheapest order "
    "per customer); Catalyst decorrelates it into an aggregate + "
    "self-join — no per-row re-execution.",
    tags=("relational", "subquery"),
)
def correlated_min_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice
        FROM orders o
        WHERE o_totalprice = (SELECT min(o2.o_totalprice) FROM orders o2
                              WHERE o2.o_custkey = o.o_custkey)
        """
    )


@register(
    "correlated_subquery_above_avg",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders o
    WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders)
    """,
    doc="Scalar subquery predicate — Catalyst rewrites to a broadcast "
    "of the single-row aggregate (no per-row recompute).",
    tags=("relational", "subquery"),
)
def correlated_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        FROM orders o
        WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders)
        """
    )


@register(
    "stats_agg_surface",
    oracle="""
    WITH mu AS (
        SELECT l_returnflag, avg(l_quantity) AS m FROM lineitem GROUP BY 1
    ),
    mom AS (
        SELECT l.l_returnflag,
               avg(pow(l_quantity - m, 2)) AS m2,
               avg(pow(l_quantity - m, 3)) AS m3,
               avg(pow(l_quantity - m, 4)) AS m4
        FROM lineitem l JOIN mu USING (l_returnflag)
        GROUP BY 1
    ),
    direct AS (
        SELECT l_returnflag,
               round(corr(l_quantity, l_extendedprice), 4)      AS r_qty_price,
               round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_samp,
               round(covar_pop(l_quantity, l_extendedprice), 4)  AS cov_pop,
               round(stddev_samp(l_quantity), 4)                 AS sd_samp,
               round(stddev_pop(l_quantity), 4)                  AS sd_pop,
               round(var_samp(l_quantity), 4)                    AS var_samp,
               count(*)                                          AS n
        FROM lineitem GROUP BY 1
    )
    SELECT d.l_returnflag, r_qty_price, cov_samp, cov_pop, sd_samp, sd_pop,
           var_samp,
           round(m3 / pow(m2, 1.5), 4)    AS skew,
           round(m4 / pow(m2, 2) - 3, 4)  AS kurt,
           n
    FROM direct d JOIN mom USING (l_returnflag)
    """,
    doc="Statistical aggregate surface: corr, covar_samp/pop, "
    "stddev_samp/pop, var_samp, skewness, kurtosis — all single-pass "
    "JVM aggregates with map-side partials.  DuckDB's skewness/"
    "kurtosis are the sample-corrected forms, so the oracle "
    "recomputes Spark's population moments (m3/m2^1.5, m4/m2²−3) "
    "from central moments explicitly.",
    tags=("relational", "agg", "stats"),
)
def stats_agg_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("r_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("cov_samp"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("cov_pop"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_samp"),
        F.round(F.stddev_pop("l_quantity"), 4).alias("sd_pop"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_samp"),
        F.round(F.skewness("l_quantity"), 4).alias("skew"),
        F.round(F.kurtosis("l_quantity"), 4).alias("kurt"),
        F.count("*").alias("n"),
    )


@register(
    "minmax_by_events",
    oracle="""
    SELECT event_type,
           arg_max(event_id, ts) AS latest_event_id,
           arg_min(event_id, ts) AS first_event_id,
           arg_max(user_id, value) AS top_value_user,
           round(max(value), 4) AS max_value
    FROM events
    GROUP BY event_type
    """,
    doc="min_by/max_by aggregate surface (DuckDB arg_min/arg_max): "
    "latest/first event per series keyed by the µs-unique ts, plus "
    "the user holding the max value.  Single hash aggregate, no "
    "window, no self-join — the cheap form of 'row of the extremum'.",
    tags=("relational", "agg"),
)
def minmax_by_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.max_by("event_id", "ts").alias("latest_event_id"),
        F.min_by("event_id", "ts").alias("first_event_id"),
        F.max_by("user_id", "value").alias("top_value_user"),
        F.round(F.max("value"), 4).alias("max_value"),
    )


@register(
    "bool_bit_agg_surface",
    oracle="""
    SELECT l_linestatus,
           bool_and(l_quantity > 0)     AS all_positive_qty,
           bool_or(l_discount > 0.09)   AS any_deep_discount,
           CAST(bit_and(l_linenumber) AS INTEGER) AS lines_bit_and,
           CAST(bit_or(l_linenumber)  AS INTEGER) AS lines_bit_or,
           CAST(bit_xor(l_linenumber) AS INTEGER) AS lines_bit_xor,
           count(*) AS n
    FROM lineitem
    GROUP BY l_linestatus
    """,
    doc="Boolean/bitwise aggregate surface: bool_and/bool_or (every/"
    "any) and bit_and/bit_or/bit_xor over the line number — all "
    "map-side-combinable JVM aggregates.",
    tags=("relational", "agg"),
)
def bool_bit_agg_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_deep_discount"),
        F.bit_and("l_linenumber").cast("int").alias("lines_bit_and"),
        F.bit_or("l_linenumber").cast("int").alias("lines_bit_or"),
        F.bit_xor("l_linenumber").cast("int").alias("lines_bit_xor"),
        F.count("*").alias("n"),
    )


@register(
    "string_agg_nations",
    oracle="""
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
           count(*) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    doc="Ordered string aggregation (LISTAGG): nations per region as "
    "a deterministic sorted CSV — collect_list → array_sort → "
    "array_join on the Spark side (the order-insensitive collect is "
    "made deterministic BEFORE joining, never relied on).",
    tags=("relational", "agg", "string"),
)
def string_agg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations_csv"),
            F.count("*").alias("n_nations"),
        )
    )


@register(
    "histogram_value_buckets",
    oracle="""
    SELECT CAST(floor(value / 50) * 50 AS DOUBLE) AS bucket_lo,
           count(*) AS n,
           round(avg(value), 4) AS mean_in_bucket
    FROM events
    GROUP BY 1
    """,
    doc="Equi-width histogram of the value distribution (50-unit "
    "buckets): floor-arithmetic bucketing keeps the whole histogram "
    "one map-side-combined aggregate — the scalable form of a "
    "distribution profile (vs sorting or exact percentiles).",
    tags=("relational", "agg", "profile"),
)
def histogram_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bucket = (F.floor(F.col("value") / 50) * 50).cast("double")
    return ev.groupBy(bucket.alias("bucket_lo")).agg(
        F.count("*").alias("n"),
        F.round(F.avg("value"), 4).alias("mean_in_bucket"),
    )


@register(
    "q4_late_shipment_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape (order-priority checking): EXISTS decorrelates "
    "to a LEFT SEMI join on the order key — orders with at least one "
    "line shipped > 60 days after order date, counted per priority. "
    "One key-partitioned shuffle; the semi join short-circuits per key.",
    tags=("relational", "tpch", "join"),
)
def q4_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


@register(
    "q7_nation_volume",
    oracle="""
    SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
           CAST(year(o_orderdate) AS INTEGER) AS order_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS volume,
           count(*) AS n_lines
    FROM lineitem
    JOIN orders    ON l_orderkey = o_orderkey
    JOIN customer  ON o_custkey  = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN supplier  ON l_suppkey  = s_suppkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE n1.n_name < n2.n_name
    GROUP BY 1, 2, 3
    """,
    doc="TPC-H Q7 shape (volume shipping between nation pairs): "
    "lineitem⋈orders⋈customer⋈supplier fact joins shuffle on their "
    "keys; the two nation lookups broadcast (25 rows).  Grouped by "
    "(customer nation, supplier nation, order year).",
    tags=("relational", "tpch", "join", "bench"),
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    n2 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("c_nk"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_nk"))
        .filter(F.col("cust_nation") < F.col("supp_nation"))
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.year("o_orderdate").cast("int").alias("order_year"),
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "volume"
            ),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "q10_returned_revenue_topk",
    oracle="""
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape (returned-item reporting): returnflag filter "
    "pushed to the lineitem scan, two key-shuffled fact joins, "
    "grouped revenue, then distributed top-20 via "
    "TakeOrderedAndProject (ordering on the ROUNDED revenue so the "
    "cutoff set is engine-stable, custkey tie-break).",
    tags=("relational", "tpch", "topk"),
)
def q10_returned_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_lines"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "udaf_geometric_mean",
    oracle="""
    SELECT l_returnflag,
           round(exp(avg(ln(l_quantity))), 4) AS geo_mean_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="True UDAF surface (SURVEY §2.10): a grouped-aggregate "
    "pandas_udf computing the geometric mean per group — Arrow moves "
    "each group's column once, the kernel is a self-contained "
    "numpy closure.  The oracle recomputes exp(avg(ln(x))) in SQL; "
    "for the hot path the registry favors built-ins, this query "
    "pins the UDAF machinery itself.",
    tags=("relational", "udaf", "udf"),
)
def udaf_geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: PEP 563 stringized annotations (this
    # module's `from __future__ import annotations`) defeat the
    # hint-based dispatch
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def geo_mean(v):
        # self-contained kernel: numpy only (worker sys.path)
        import numpy as np

        return float(np.exp(np.log(v.to_numpy(dtype="float64")).mean()))

    # Spark disallows mixing pandas and JVM aggregates in one agg, so
    # the row count is a second pandas UDAF
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def n_rows(v):
        return len(v)

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(geo_mean("l_quantity"), 4).alias("geo_mean_qty"),
        n_rows("l_quantity").alias("n"),
    )


@register(
    "q8_market_share",
    oracle="""
    SELECT year(o_orderdate) AS o_year,
           round(CAST(sum(CASE WHEN n2.n_name = 'NATION_7'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0 END) AS DOUBLE)
                 / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region   ON n1.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    JOIN part     ON l_partkey = p_partkey
    WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    GROUP BY year(o_orderdate)
    ORDER BY o_year
    """,
    doc="TPC-H Q8 shape (national market share): an 8-table join "
    "tree — three fact-sized shuffle joins (orders, customer, "
    "supplier) and three fixed-size broadcasts (nation x2, region); "
    "the part p_type filter reaches the scan before the join, and the "
    "share is a conditional-sum / sum ratio per order year.  "
    "Region/nation predicates prune the build sides before broadcast.",
    tags=("relational", "tpch", "join"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").alias("n1")
    n2 = load_table(spark, sf_dir, "nation").alias("n2")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(r), F.col("n1.n_regionkey") == r.r_regionkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2.n_nationkey"))
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("n2.n_name") == "NATION_7", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13 shape (customer order-count distribution): LEFT "
    "outer join with the non-equi residual ON the join (not a "
    "post-filter — customers whose only orders are urgent must count "
    "as zero), then a double aggregation: per-customer count, then "
    "the histogram of counts.  The second agg's keyspace is tiny, so "
    "its shuffle is negligible; the first is a key-partitioned "
    "count(col) that skips NULLs from the outer side.",
    tags=("relational", "tpch", "outer", "agg"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM revenue
    JOIN supplier ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q15 shape (top supplier): quarter-filtered revenue "
    "per supplier, then select the max earner WITHOUT a global "
    "windowless window (which would collapse to one partition): the "
    "1-row max aggregate is crossJoin-broadcast back onto the "
    "supplier-keyed aggregate, so both sides stay partitioned.  "
    "Revenue is rounded BEFORE the max comparison so the argmax set "
    "is engine-stable.",
    tags=("relational", "tpch", "join", "agg"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "total_revenue"
            )
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN (
        SELECT l_partkey AS a_partkey,
               0.2 * avg(l_quantity) AS qty_cut
        FROM lineitem
        GROUP BY l_partkey
    ) ON a_partkey = p_partkey
    WHERE p_brand = 'Brand#23' AND l_quantity < qty_cut
    """,
    doc="TPC-H Q17 shape (small-quantity-order revenue): the "
    "correlated scalar subquery avg(l_quantity) per part is decorrelated "
    "into an aggregate-then-join — the per-part cutoffs are a "
    "part-keyed aggregate joined back to the fact on partkey, so the "
    "whole plan is two shuffles on the same key (AQE can pick a "
    "broadcast for the brand-filtered side at low SF).  Single-row "
    "output; both engines evaluate the identical decorrelation.",
    tags=("relational", "tpch", "subquery", "agg"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    cuts = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_cut")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(cuts, F.col("a_partkey") == p.p_partkey)
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "q22_sales_opportunity",
    oracle="""
    WITH avg_bal AS (
        SELECT avg(c_acctbal) AS cut
        FROM customer
        WHERE c_acctbal > 0.0
    )
    SELECT c_mktsegment,
           count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > cut
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="TPC-H Q22 shape (global sales opportunity): a 1-row global "
    "average broadcast-crossJoined as the balance cutoff (scalar "
    "subquery decorrelation), a left ANTI join against a filtered "
    "orders subset, and a segment rollup.  (Q22 proper anti-joins "
    "ALL orders, but this fixture's every customer has an order — "
    "that predicate returns zero rows and would leave the oracle "
    "check vacuous; 'no URGENT order' keeps the identical plan shape "
    "with real rows on both sides.)  The anti join ships only the "
    "filtered o_custkey side; the scalar stays in-plan — no "
    "driver-side collect.",
    tags=("relational", "tpch", "anti", "subquery"),
)
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    cut = c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("cut"))
    return (
        c.crossJoin(F.broadcast(cut))
        .filter(F.col("c_acctbal") > F.col("cut"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "division_customers_all_priorities",
    oracle="""
    WITH total AS (
        SELECT count(DISTINCT o_orderpriority) AS n_prio FROM orders
    )
    SELECT c_custkey, c_name
    FROM customer
    JOIN (
        SELECT o_custkey
        FROM orders, total
        GROUP BY o_custkey, n_prio
        HAVING count(DISTINCT o_orderpriority) = n_prio
    ) q ON c_custkey = o_custkey
    ORDER BY c_custkey
    """,
    doc="Relational division (the 'for all' join): customers whose "
    "orders span EVERY priority class.  Decomposed as distinct-count "
    "per customer == global distinct count — two aggregates and a "
    "1-row broadcast, no double-anti-join nesting; the per-customer "
    "distinct agg partial-aggregates map-side, so the fact table "
    "shuffles (custkey, priority) pairs only.",
    tags=("relational", "agg", "division"),
)
def division_customers_all_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    total = o.agg(F.countDistinct("o_orderpriority").alias("n_prio"))
    full = (
        o.groupBy("o_custkey")
        .agg(F.countDistinct("o_orderpriority").alias("k"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("k") == F.col("n_prio"))
    )
    return (
        c.join(full, c.c_custkey == full.o_custkey)
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "sketch_approx_quantiles",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_disc(o_totalprice, 0.5), 4)  AS p50,
           round(quantile_disc(o_totalprice, 0.9), 4)  AS p90,
           round(quantile_disc(o_totalprice, 0.99), 4) AS p99,
           count(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="Approximate quantile sketch (SURVEY §2.4 sketch family, "
    "beside HLL and approx_top_k): percentile_approx over "
    "o_totalprice per order status.  The sketch is mergeable, so "
    "100 TB aggregates map-side partials instead of sorting the "
    "column.  Oracled in the EXACT regime: with accuracy >= group "
    "cardinality the GK summary never compresses, so the returned "
    "element is the exact discrete quantile and DuckDB's "
    "quantile_disc pins it value-for-value; at 100 TB you drop "
    "accuracy back to ~1e4 and the tolerance pytest "
    "(tests/test_operators.py) covers that approximate regime "
    "against exact quantiles.",
    tags=("relational", "sketch", "agg"),
)
def sketch_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("approx_percentile(o_totalprice, 0.5, 100000)"), 4).alias("p50"),
            F.round(F.expr("approx_percentile(o_totalprice, 0.9, 100000)"), 4).alias("p90"),
            F.round(F.expr("approx_percentile(o_totalprice, 0.99, 100000)"), 4).alias("p99"),
            F.count("*").alias("n"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "time_travel_snapshot",
    oracle="""
    WITH history AS (
        SELECT c_custkey, round(c_acctbal, 2) AS acctbal, 0 AS version
        FROM customer
        UNION ALL
        SELECT c_custkey, round(c_acctbal * 1.1, 2) AS acctbal, 1 AS version
        FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION ALL
        SELECT c_custkey, round(c_acctbal * 1.2, 2) AS acctbal, 2 AS version
        FROM customer WHERE c_mktsegment = 'MACHINERY'
    ),
    ranked AS (
        SELECT c_custkey, acctbal, version,
               row_number() OVER (PARTITION BY c_custkey
                                  ORDER BY version DESC) AS rn
        FROM history
        WHERE version <= 1
    )
    SELECT c_custkey, acctbal, CAST(version AS INTEGER) AS version
    FROM ranked WHERE rn = 1
    """,
    doc="Time travel without a transactional format: a versioned "
    "history table (the shape operators/upsert.py's scd2_apply "
    "maintains) is read AS OF version 1 — per key, the newest row "
    "with version <= the requested snapshot.  The version filter is "
    "pushed below the ranking window, so at scale the snapshot read "
    "prunes newer version partitions at the scan (version is the "
    "natural partition column for such a table) before one key "
    "shuffle picks the winners.",
    tags=("relational", "upsert", "window"),
)
def time_travel_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    cust = load_table(spark, sf_dir, "customer")
    v0 = cust.select(
        "c_custkey", F.round("c_acctbal", 2).alias("acctbal"), F.lit(0).alias("version")
    )
    v1 = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .select(
            "c_custkey",
            F.round(F.col("c_acctbal") * 1.1, 2).alias("acctbal"),
            F.lit(1).alias("version"),
        )
    )
    v2 = (
        cust.filter(F.col("c_mktsegment") == "MACHINERY")
        .select(
            "c_custkey",
            F.round(F.col("c_acctbal") * 1.2, 2).alias("acctbal"),
            F.lit(2).alias("version"),
        )
    )
    history = v0.unionByName(v1).unionByName(v2)
    w = W.partitionBy("c_custkey").orderBy(F.col("version").desc())
    return (
        history.filter(F.col("version") <= 1)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_custkey", "acctbal", F.col("version").cast("int").alias("version"))
    )


@register(
    "nested_struct_median_pick",
    oracle="""
    WITH ranked AS (
        SELECT o_custkey,
               round(o_totalprice, 2) AS p,
               o_orderstatus AS s,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY round(o_totalprice, 2),
                                           o_orderstatus, o_orderkey) AS rn,
               count(*) OVER (PARTITION BY o_custkey) AS n
        FROM orders
    )
    SELECT o_custkey,
           p AS mid_price,
           s AS mid_status,
           CAST(n AS INTEGER) AS n_orders
    FROM ranked
    WHERE rn = (n + 1) // 2 AND n >= 3
    ORDER BY o_custkey
    """,
    doc="Nested struct-array surface (SURVEY §2.8 complex types): "
    "per customer, orders are packed into an array<struct> with "
    "sort_array (struct comparison = lexicographic field order — "
    "(price, status, orderkey) here, making the order total and the "
    "pick deterministic), and the MEDIAN element is plucked with "
    "element_at before its fields are projected back out.  The "
    "oracle proves the same semantics through a window row_number "
    "formulation — deliberately a different plan, so the check pins "
    "MEANING not implementation.  The struct pack/sort/pluck chain "
    "is one groupBy shuffle; arrays stay bounded by per-key "
    "cardinality.",
    tags=("relational", "nested", "agg"),
)
def nested_struct_median_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    packed = (
        o.select(
            "o_custkey",
            F.struct(
                F.round("o_totalprice", 2).alias("p"),
                F.col("o_orderstatus").alias("s"),
                F.col("o_orderkey").alias("k"),
            ).alias("rec"),
        )
        .groupBy("o_custkey")
        .agg(F.sort_array(F.collect_list("rec")).alias("recs"))
        .filter(F.size("recs") >= 3)
    )
    mid = F.element_at("recs", ((F.size("recs") + 1) / 2).cast("int"))
    return packed.select(
        "o_custkey",
        mid.getField("p").alias("mid_price"),
        mid.getField("s").alias("mid_status"),
        F.size("recs").cast("int").alias("n_orders"),
    ).orderBy("o_custkey")


@register(
    "sql_interface_nation_revenue",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(DISTINCT o_orderkey) AS n_orders
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
    GROUP BY n_name
    ORDER BY n_name
    """,
    doc="The engine's SQL-string interface (SURVEY §2: users run "
    "spark.sql over registered views, not just the DataFrame API): "
    "the same multi-join revenue rollup expressed as one SQL string "
    "over temp views — Catalyst plans it identically to the "
    "DataFrame form (broadcast for nation via AQE, keyed shuffles "
    "for the fact joins), which is the point: the surface is "
    "syntax, the optimizer is shared.",
    tags=("relational", "sql", "join"),
)
def sql_interface_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("lineitem", "orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"sqlif_{t}")
    return spark.sql(
        """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(DISTINCT o_orderkey) AS n_orders
        FROM sqlif_lineitem
        JOIN sqlif_orders ON l_orderkey = o_orderkey
        JOIN sqlif_customer ON o_custkey = c_custkey
        JOIN sqlif_nation ON c_nationkey = n_nationkey
        WHERE o_orderstatus = 'F'
        GROUP BY n_name
        ORDER BY n_name
        """
    )


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH unit_cost AS (
        SELECT l_partkey, l_suppkey,
               round(avg(l_extendedprice / l_quantity), 4) AS cost
        FROM lineitem
        GROUP BY 1, 2
    ),
    best AS (
        SELECT l_partkey, min(cost) AS min_cost
        FROM unit_cost GROUP BY 1
    )
    SELECT p_partkey, p_brand, s_name, n_name, round(s_acctbal, 2) AS s_acctbal,
           cost AS min_cost
    FROM unit_cost u
    JOIN best     ON best.l_partkey = u.l_partkey AND u.cost = best.min_cost
    JOIN part     ON p_partkey = u.l_partkey
    JOIN supplier ON s_suppkey = u.l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE p_size BETWEEN 1 AND 10
    ORDER BY s_acctbal DESC, p_partkey, s_name
    LIMIT 20
    """,
    doc="TPC-H Q2 shape (minimum-cost supplier): the correlated scalar "
    "subquery `cost = (SELECT min(cost) ... WHERE partkey = outer)` "
    "decorrelates into a per-part min aggregate joined back on "
    "equality — one keyed shuffle for the per-(part,supplier) unit "
    "cost, one for the per-part min, then broadcast-able dimension "
    "joins and a distributed top-k.  ADAPTED to the fixture schema: "
    "the cost table is derived from lineitem unit prices "
    "(avg extendedprice/quantity, rounded 4dp so the min-equality "
    "join is engine-stable) because the fixtures carry no partsupp "
    "table (TESTDATA.md); the reference shape — correlated min, "
    "multi-dimension join, tie-aware top-k — is preserved.",
    tags=("relational", "tpch", "join", "subquery"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size").between(1, 10))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    unit_cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.round(F.avg(F.col("l_extendedprice") / F.col("l_quantity")), 4).alias("cost")
    )
    best = unit_cost.groupBy("l_partkey").agg(F.min("cost").alias("min_cost"))
    return (
        unit_cost.join(
            best.withColumnRenamed("l_partkey", "b_partkey"),
            (F.col("b_partkey") == F.col("l_partkey"))
            & (F.col("cost") == F.col("min_cost")),
        )
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            "n_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
            F.col("cost").alias("min_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "p_partkey", "s_name")
        .limit(20)
    )


@register(
    "q9_product_type_profit",
    oracle="""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)
                     - 0.6 * p_retailprice * l_quantity), 2) AS profit,
           count(*) AS n_lines
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_type = 'PROMO'
    GROUP BY 1, 2
    """,
    doc="TPC-H Q9 shape (product-type profit): the five-way "
    "fact-dimension join grouped by (supplier nation, order year). "
    "lineitem⋈orders shuffles on the order key; part and supplier "
    "prune early (the p_type filter is pushed to the part scan) and "
    "broadcast at fixture scale; nation always broadcasts.  ADAPTED "
    "to the fixture schema: supply cost is proxied as "
    "0.6·p_retailprice per unit because the fixtures carry no "
    "partsupp (TESTDATA.md); the reference shape — profit expression "
    "over a snowflake join, filtered by part attribute — is "
    "preserved.",
    tags=("relational", "tpch", "join", "bench"),
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.6 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            F.round(F.sum(profit), 2).alias("profit"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "q11_important_parts",
    oracle="""
    WITH part_value AS (
        SELECT l_partkey,
               sum(l_extendedprice * l_quantity) AS value
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON n_nationkey = s_nationkey
        WHERE n_name IN ('NATION_7', 'NATION_13')
        GROUP BY 1
    )
    SELECT l_partkey AS p_partkey, round(value, 2) AS part_value
    FROM part_value
    WHERE value > (SELECT 2.0 * avg(value) FROM part_value)
    ORDER BY part_value DESC, p_partkey
    """,
    doc="TPC-H Q11 shape (important stock identification): a grouped "
    "aggregate filtered by a scalar subquery over ITS OWN total — "
    "the global threshold comes from a 1-row aggregate crossJoin-"
    "broadcast into the HAVING predicate (same idiom as the MERGE "
    "version scalar, operators/upsert.py), so no driver round-trip "
    "and no second scan of lineitem: the per-part aggregate is "
    "computed once and reused for both the threshold and the "
    "filter.  "
    "ADAPTED to the fixture schema: 'stock value' is shipped value "
    "(extendedprice·quantity) from lineitem because the fixtures "
    "carry no partsupp (TESTDATA.md); the threshold is 2x the mean "
    "per-part value, which keeps the filter selective (~10% of "
    "parts) at sf0.01.",
    tags=("relational", "tpch", "agg", "subquery"),
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_7", "NATION_13")
    )
    part_value = (
        li.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("value"))
    )
    total = part_value.agg((2.0 * F.avg("value")).alias("threshold"))
    return (
        part_value.crossJoin(F.broadcast(total))
        .filter(F.col("value") > F.col("threshold"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round("value", 2).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "p_partkey")
    )


@register(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#45'
      AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 shape (parts/supplier relationship): NOT IN "
    "subquery decorrelates to a LEFT ANTI join against the "
    "(tiny, broadcast) excluded-supplier list, then a count-distinct "
    "aggregate per part attribute triple.  ADAPTED to the fixture "
    "schema: the part↔supplier relationship comes from lineitem "
    "(no partsupp in the fixtures, TESTDATA.md) and the excluded "
    "suppliers are those with negative account balance (no s_comment "
    "to grep for complaints); the reference shape — anti-join + "
    "COUNT(DISTINCT) over attribute groups — is preserved.",
    tags=("relational", "tpch", "agg", "join"),
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(bad_supp), li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "q20_excess_shippers",
    oracle="""
    SELECT s_name, n_name
    FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    WHERE s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem
        WHERE l_shipdate >= DATE '1996-01-01'
          AND l_shipdate <  DATE '1997-01-01'
        GROUP BY l_suppkey, l_partkey
        HAVING sum(l_quantity) > 0.25 * (
            SELECT sum(l_quantity) FROM lineitem li2
            WHERE li2.l_partkey = lineitem.l_partkey
              AND li2.l_shipdate >= DATE '1996-01-01'
              AND li2.l_shipdate <  DATE '1997-01-01')
           AND (SELECT count(DISTINCT li3.l_suppkey) FROM lineitem li3
                WHERE li3.l_partkey = lineitem.l_partkey
                  AND li3.l_shipdate >= DATE '1996-01-01'
                  AND li3.l_shipdate <  DATE '1997-01-01') >= 8
    )
    ORDER BY s_name
    """,
    doc="TPC-H Q20 shape (potential part promotion): an IN subquery "
    "whose HAVING references a correlated per-part total.  The "
    "correlation decorrelates into one per-(supplier,part) aggregate "
    "re-aggregated per part (partial-agg reuse: the part total AND "
    "its shipper count are window aggregates over the first "
    "aggregate — NO second or third lineitem scan, unlike the "
    "literal triple-scan SQL), then a LEFT SEMI join into supplier. "
    "ADAPTED to the fixture schema: 'excess stock' is a supplier "
    "shipping > 25% of a contested part's 1996 volume (>= 8 "
    "shippers; no partsupp availqty in the fixtures, TESTDATA.md); "
    "the shape — correlated HAVING inside IN, semi-join to the "
    "dimension — is preserved.",
    tags=("relational", "tpch", "join", "subquery", "window"),
)
def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    per_sp = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("l_quantity").alias("qty")
    )
    w = Window.partitionBy("l_partkey")
    excess = (
        per_sp.withColumn("part_total", F.sum("qty").over(w))
        .withColumn("n_shippers", F.count("*").over(w))
        .filter((F.col("n_shippers") >= 8) & (F.col("qty") > 0.25 * F.col("part_total")))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(excess, s.s_suppkey == excess.l_suppkey, "left_semi")
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
    WITH late AS (
        SELECT l_orderkey, l_suppkey
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        GROUP BY 1, 2
    ),
    order_supp AS (
        SELECT l_orderkey, l_suppkey FROM lineitem GROUP BY 1, 2
    )
    SELECT s_name, count(*) AS numwait
    FROM late l1
    JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM order_supp o2
                  WHERE o2.l_orderkey = l1.l_orderkey
                    AND o2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    doc="TPC-H Q21 shape (suppliers who kept orders waiting): the "
    "classic EXISTS + NOT-EXISTS pair over self-joined lineitem — a "
    "supplier counted per order where it shipped late, at least one "
    "OTHER supplier participated (EXISTS → aggregate-then-join on "
    "distinct supplier counts), and NO other supplier was late "
    "(NOT EXISTS → the late set per order has exactly one supplier). "
    "Both existence tests collapse into per-order distinct-supplier "
    "counts computed once and joined back — two keyed shuffles on "
    "l_orderkey, no row-level anti-join fan-out.  ADAPTED: lateness "
    "is l_shipdate > o_orderdate + 60 days (the fixtures carry no "
    "commitdate/receiptdate, TESTDATA.md — same proxy as "
    "q4_late_shipment_priority).",
    tags=("relational", "tpch", "join", "subquery", "bench"),
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    # ONE lineitem⋈orders pass: per-(order, supplier) lateness flag,
    # then both existence tests come from windows over the order key —
    # EXISTS(other supplier) ⇔ n_supp >= 2, NOT EXISTS(other late
    # supplier) ⇔ n_late_supp == 1.  One (order,supplier)-keyed
    # aggregate shuffle + one order-keyed window shuffle, vs the
    # literal SQL's two lineitem scans and three per-order join legs.
    per_os = (
        li.join(
            o.select("o_orderkey", "o_orderdate"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        # one explicit order-keyed shuffle feeds BOTH the (order,
        # supplier) aggregate (ok ⊆ group keys satisfies its
        # clustering) and the order window below — without it the
        # plan pays two exchanges on different keys
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                (
                    F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
                ).cast("int")
            ).alias("is_late")
        )
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per_os.select(
        "l_orderkey",
        "l_suppkey",
        "is_late",
        F.count("*").over(w).alias("n_supp"),
        F.sum("is_late").over(w).alias("n_late_supp"),
    )
    return (
        flagged.filter(
            (F.col("is_late") == 1)
            & (F.col("n_supp") >= 2)
            & (F.col("n_late_supp") == 1)
        )
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@register(
    "sketch_hll_mergeable",
    oracle=None,  # DataSketches HLL binary sketches are engine-
    # specific — rows-only; the mergeability pytest
    # (tests/test_operators.py) asserts union-of-parts == sketch-of-
    # whole EXACTLY and pins the estimate against exact countDistinct
    # within the sketch's error bound.
    doc="MERGEABLE distinct-count sketches (Spark 4 DataSketches "
    "HLL): one sketch per return flag, then hll_union_agg folds the "
    "three partial sketches into the global estimate WITHOUT "
    "re-scanning lineitem — the algebraic property that lets 100 TB "
    "distinct counts aggregate map-side per partition/day and merge "
    "up a tree (plain approx_count_distinct exposes no reusable "
    "sketch state).  The pytest asserts the union of per-flag "
    "sketches estimates EXACTLY what one whole-column sketch "
    "estimates — mergeability, not approximation, is the claim under "
    "test.",
    tags=("relational", "sketch", "agg"),
)
def sketch_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sk = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey").alias("sk"),
        F.count("*").alias("n_rows"),
    )
    per = sk.select(
        "l_returnflag",
        F.hll_sketch_estimate("sk").alias("flag_distinct_est"),
        "n_rows",
    )
    glob = sk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("global_distinct_est")
    )
    return per.crossJoin(F.broadcast(glob)).orderBy("l_returnflag")


@register(
    "lateral_top_orders_per_customer",
    oracle="""
    SELECT c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS o_totalprice
    FROM customer,
    LATERAL (SELECT o_orderkey, o_totalprice
             FROM orders
             WHERE o_custkey = c_custkey
             ORDER BY o_totalprice DESC, o_orderkey
             LIMIT 2) t
    WHERE c_mktsegment = 'BUILDING'
    """,
    doc="Correlated LATERAL subquery (Spark 4 SQL): top-2 orders per "
    "BUILDING customer via a per-row dependent subquery — the SQL "
    "shape analysts write; Catalyst decorrelates it into the same "
    "ranked-window/limit-per-key plan as window_topk_per_group, so "
    "the lateral form costs one keyed shuffle, not one subquery "
    "execution per outer row.  Deterministic inner ordering "
    "(totalprice DESC, orderkey) keeps both engines' top-2 "
    "identical.",
    tags=("relational", "sql", "subquery", "topk"),
)
def lateral_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"lat_{t}")
    return spark.sql(
        """
        SELECT c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS o_totalprice
        FROM lat_customer,
        LATERAL (SELECT o_orderkey, o_totalprice
                 FROM lat_orders
                 WHERE o_custkey = c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey
                 LIMIT 2) t
        WHERE c_mktsegment = 'BUILDING'
        """
    )


@register(
    "recursive_cte_month_spine",
    oracle="""
    WITH RECURSIVE spine(m) AS (
        SELECT date_trunc('month', min(o_orderdate)) FROM orders
        UNION ALL
        SELECT m + INTERVAL 1 MONTH FROM spine
        WHERE m < (SELECT date_trunc('month', max(o_orderdate)) FROM orders)
    )
    SELECT CAST(s.m AS DATE) AS month_start,
           count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice), 0), 2) AS month_revenue
    FROM spine s
    LEFT JOIN orders ON date_trunc('month', o_orderdate) = s.m
    GROUP BY s.m
    ORDER BY month_start
    """,
    doc="Recursive CTE (Spark 4 SQL, SPARK-24497): a generated "
    "month-spine from min to max order date LEFT-joined to orders, "
    "so empty months appear as zero rows — the calendar-completion "
    "pattern gap-filling dashboards need (the DataFrame twin is "
    "resample_ffill_hourly's sequence() expansion).  The recursion "
    "generates |months| rows driver-free; the join shuffles on the "
    "tiny month key.  Spark executes each recursion step as its own "
    "query, so the min/max bounds are staged through a materialized "
    "1-row view (r15 opt — the inline scalar subqueries were "
    "re-scanning orders once per generated month); the oracle keeps "
    "the inline form, same spine either way.",
    tags=("relational", "sql", "datetime"),
)
def recursive_cte_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lineage import ckpt

    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("rec_orders")
    # Stage the recursion BOUNDS through a materialized 1-row view
    # (r15 opt): Spark executes each recursion step as its own query,
    # so the anchor/guard scalar subqueries over the raw table were
    # re-aggregating the full orders scan once per generated month —
    # |months| extra fact passes for two constants.  The recursion
    # itself (the §2.8 surface under test) is unchanged; it now reads
    # the bounds from a checkpointed 1-row relation.  Same spine, same
    # join, same output.
    orders.agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("mn"),
        F.date_trunc("month", F.max("o_orderdate")).alias("mx"),
    ).transform(ckpt).createOrReplaceTempView("rec_bounds")
    return spark.sql(
        """
        WITH RECURSIVE spine(m) AS (
            SELECT mn FROM rec_bounds
            UNION ALL
            SELECT m + INTERVAL 1 MONTH FROM spine
            WHERE m < (SELECT mx FROM rec_bounds)
        )
        SELECT CAST(s.m AS DATE) AS month_start,
               count(o_orderkey) AS n_orders,
               round(coalesce(sum(o_totalprice), 0), 2) AS month_revenue
        FROM spine s
        LEFT JOIN rec_orders ON date_trunc('month', o_orderdate) = s.m
        GROUP BY s.m
        ORDER BY month_start
        """
    )


@register(
    "try_function_surface",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey - o_orderkey = 0 THEN NULL
                ELSE round(o_totalprice / (o_orderkey - o_orderkey), 4)
           END AS div_by_zero,
           round(o_totalprice / 2.0, 4)          AS div_ok,
           CASE WHEN o_orderkey = 0 THEN 9223372036854775807
                ELSE CAST(NULL AS BIGINT) END    AS add_overflow,
           try_cast(o_orderpriority AS INTEGER)  AS bad_cast,
           CAST(NULL AS DOUBLE)                  AS elem_oob
    FROM orders
    WHERE o_orderkey % 100 = 0
    """,
    doc="try_* error-safe function surface (§2.8): this engine runs "
    "ANSI mode (overflow/bad-cast/div-zero are runtime ERRORS, the "
    "correctness-first posture), and the try_* family is the "
    "per-expression escape hatch a dirty-data pipeline needs — "
    "try_divide by zero, try_add at bigint max, try_cast of a "
    "non-numeric priority string, try_element_at out of bounds, all "
    "returning NULL instead of killing the job.  The oracle encodes "
    "the same NULL outcomes with portable CASE/try_cast arithmetic.",
    tags=("relational", "scalar"),
)
def try_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    max_long = F.lit(9223372036854775807).cast("bigint")
    return o.select(
        "o_orderkey",
        F.round(
            F.try_divide(F.col("o_totalprice"), F.col("o_orderkey") - F.col("o_orderkey")), 4
        ).alias("div_by_zero"),
        F.round(F.try_divide(F.col("o_totalprice"), F.lit(2.0)), 4).alias("div_ok"),
        F.try_add(max_long, F.col("o_orderkey")).alias("add_overflow"),
        F.try_to_number(F.col("o_orderpriority"), F.lit("999")).cast("int").alias("bad_cast"),
        F.try_element_at(F.array(F.col("o_totalprice")), F.lit(99)).alias("elem_oob"),
    )


@register(
    "collation_case_insensitive_grouping",
    oracle="""
    SELECT lower(CASE WHEN c_custkey % 2 = 0
                      THEN lower(c_mktsegment) ELSE c_mktsegment END) AS segment,
           count(*) AS n_customers
    FROM customer
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Collated strings (Spark 4 COLLATE): a mixed-case segment "
    "column (half the rows lower-cased) grouped under the UTF8_LCASE "
    "collation — the engine merges case variants in the GROUP BY "
    "itself, no normalizing projection before the shuffle; the "
    "output canonicalizes through lower() only for display/oracle "
    "parity (DuckDB has no collated grouping, so its oracle "
    "normalizes explicitly).",
    tags=("relational", "scalar", "agg"),
)
def collation_case_insensitive_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    mixed = F.when(
        F.col("c_custkey") % 2 == 0, F.lower(F.col("c_mktsegment"))
    ).otherwise(F.col("c_mktsegment"))
    return (
        c.select(F.collate(mixed, "UTF8_LCASE").alias("seg"))
        .groupBy("seg")
        .agg(F.count("*").alias("n_customers"))
        .select(
            F.lower(F.col("seg")).cast("string").alias("segment"), "n_customers"
        )
        .orderBy("segment")
    )


@register(
    "parameterized_sql_segment_revenue",
    oracle="""
    SELECT c_mktsegment,
           round(sum(o_totalprice), 2) AS revenue,
           count(*) AS n_orders
    FROM orders JOIN customer ON c_custkey = o_custkey
    WHERE c_acctbal > 1000.0 AND c_mktsegment <> 'MACHINERY'
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="Parameterized SQL (Spark 4 named parameter markers): the "
    "query text carries :min_bal / :skip_segment placeholders and "
    "values bind at spark.sql(args=...) time — the injection-safe "
    "interface a SQL-surface service exposes; literals land in the "
    "plan exactly like inlined constants, so pushdown/pruning are "
    "unaffected.  The oracle inlines the same values.",
    tags=("relational", "sql"),
)
def parameterized_sql_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("orders", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"psql_{t}")
    return spark.sql(
        """
        SELECT c_mktsegment,
               round(sum(o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM psql_orders JOIN psql_customer ON c_custkey = o_custkey
        WHERE c_acctbal > :min_bal AND c_mktsegment <> :skip_segment
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
        """,
        args={"min_bal": 1000.0, "skip_segment": "MACHINERY"},
    )


@register(
    "ols_price_on_qty_discount",
    oracle="""
    WITH s AS (
        SELECT CAST(count(*) AS DOUBLE)           AS n,
               round(sum(l_quantity), 4)          AS sx1,
               round(sum(l_discount), 4)          AS sx2,
               round(sum(l_quantity * l_quantity), 4) AS sx1x1,
               round(sum(l_quantity * l_discount), 4) AS sx1x2,
               round(sum(l_discount * l_discount), 4) AS sx2x2,
               round(sum(l_extendedprice), 4)     AS sy,
               round(sum(l_quantity * l_extendedprice), 4) AS sx1y,
               round(sum(l_discount * l_extendedprice), 4) AS sx2y
        FROM lineitem
    ),
    d AS (
        SELECT *,
               n   * (sx1x1 * sx2x2 - sx1x2 * sx1x2)
             - sx1 * (sx1   * sx2x2 - sx1x2 * sx2)
             + sx2 * (sx1   * sx1x2 - sx1x1 * sx2)  AS det
        FROM s
    )
    SELECT round((sy  * (sx1x1 * sx2x2 - sx1x2 * sx1x2)
                - sx1 * (sx1y  * sx2x2 - sx1x2 * sx2y)
                + sx2 * (sx1y  * sx1x2 - sx1x1 * sx2y)) / det, 6) AS beta0,
           round((n   * (sx1y  * sx2x2 - sx1x2 * sx2y)
                - sy  * (sx1   * sx2x2 - sx1x2 * sx2)
                + sx2 * (sx1   * sx2y  - sx1y  * sx2)) / det, 6) AS beta1,
           round((n   * (sx1x1 * sx2y  - sx1y  * sx1x2)
                - sx1 * (sx1   * sx2y  - sx1y  * sx2)
                + sy  * (sx1   * sx1x2 - sx1x1 * sx2)) / det, 6) AS beta2,
           CAST(n AS BIGINT) AS n_rows
    FROM d
    """,
    doc="Closed-form MULTIVARIATE OLS (extendedprice ~ quantity + "
    "discount) solved with Cramer's rule on the 3x3 normal "
    "equations: ONE map-side-combined aggregate produces the nine "
    "moment sums, and the betas are pure scalar algebra on that "
    "1-row table — the 100 TB regression shape (no per-row "
    "residual pass, no iterative solver, no driver matrix).  Moment "
    "sums round to 4dp on BOTH engines before the determinant "
    "algebra, so every downstream IEEE operation is identical and "
    "the betas are bit-stable.  The numpy-golden pytest checks the "
    "same betas against lstsq.  Complements applyinpandas_trend_ols "
    "(per-group univariate via UDF) with the pure-SQL multivariate "
    "path.",
    tags=("relational", "stats", "agg"),
)
def ols_price_on_qty_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = li.agg(
        F.count("*").cast("double").alias("n"),
        F.round(F.sum("l_quantity"), 4).alias("sx1"),
        F.round(F.sum("l_discount"), 4).alias("sx2"),
        F.round(F.sum(F.col("l_quantity") * F.col("l_quantity")), 4).alias("sx1x1"),
        F.round(F.sum(F.col("l_quantity") * F.col("l_discount")), 4).alias("sx1x2"),
        F.round(F.sum(F.col("l_discount") * F.col("l_discount")), 4).alias("sx2x2"),
        F.round(F.sum("l_extendedprice"), 4).alias("sy"),
        F.round(F.sum(F.col("l_quantity") * F.col("l_extendedprice")), 4).alias("sx1y"),
        F.round(F.sum(F.col("l_discount") * F.col("l_extendedprice")), 4).alias("sx2y"),
    )
    n, sx1, sx2 = F.col("n"), F.col("sx1"), F.col("sx2")
    sx1x1, sx1x2, sx2x2 = F.col("sx1x1"), F.col("sx1x2"), F.col("sx2x2")
    sy, sx1y, sx2y = F.col("sy"), F.col("sx1y"), F.col("sx2y")
    det = (
        n * (sx1x1 * sx2x2 - sx1x2 * sx1x2)
        - sx1 * (sx1 * sx2x2 - sx1x2 * sx2)
        + sx2 * (sx1 * sx1x2 - sx1x1 * sx2)
    )
    beta0 = (
        sy * (sx1x1 * sx2x2 - sx1x2 * sx1x2)
        - sx1 * (sx1y * sx2x2 - sx1x2 * sx2y)
        + sx2 * (sx1y * sx1x2 - sx1x1 * sx2y)
    ) / det
    beta1 = (
        n * (sx1y * sx2x2 - sx1x2 * sx2y)
        - sy * (sx1 * sx2x2 - sx1x2 * sx2)
        + sx2 * (sx1 * sx2y - sx1y * sx2)
    ) / det
    beta2 = (
        n * (sx1x1 * sx2y - sx1y * sx1x2)
        - sx1 * (sx1 * sx2y - sx1y * sx2)
        + sy * (sx1 * sx1x2 - sx1x1 * sx2)
    ) / det
    return s.select(
        F.round(beta0, 6).alias("beta0"),
        F.round(beta1, 6).alias("beta1"),
        F.round(beta2, 6).alias("beta2"),
        n.cast("bigint").alias("n_rows"),
    )


@register(
    "observe_scan_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)                            AS n_high_value,
           round(sum(o_totalprice), 2)                         AS total_revenue,
           round(avg(o_totalprice), 4)                         AS avg_price,
           CAST((SELECT count(*) FROM orders) AS BIGINT)       AS n_scanned
    FROM orders
    WHERE o_totalprice > 200000
    """,
    doc="Single-pass pipeline observability (df.observe + the "
    "Observation API): named aggregate metrics piggyback on the SAME "
    "scan that computes the filtered aggregate — at 100 TB you get "
    "row counts / control totals for data-quality monitoring without "
    "a second pass or a separate counting job (the metrics ride the "
    "action's existing tasks, like Spark accumulators but typed and "
    "declarative).  The query returns the observed metrics as its "
    "1-row result; the oracle recomputes them relationally.  EAGER "
    "CONTRACT (unique in the registry, declared via the 'eager' tag): "
    "the Observation API only surfaces metrics after an action, so "
    "merely BUILDING this query executes the scan and returns a "
    "driver-materialized 1-row frame — plan-shape/bench tooling must "
    "skip 'eager'-tagged entries rather than assume a lazy plan.",
    tags=("relational", "agg", "observability", "eager"),
)
def observe_scan_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    o = load_table(spark, sf_dir, "orders")
    obs = Observation("scan_metrics")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_scanned"),
    ).filter(F.col("o_totalprice") > 200000)
    agg = observed.agg(
        F.count("*").cast("bigint").alias("n_high_value"),
        F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
    )
    row = agg.collect()[0]  # the action that also populates the observation
    m = obs.get
    return local_frame(
        spark,
        [
            (
                row["n_high_value"],
                float(row["total_revenue"]),
                float(row["avg_price"]),
                m["n_scanned"],
            )
        ],
        "n_high_value bigint, total_revenue double, avg_price double, n_scanned bigint",
    )


@register(
    "frequent_brand_pairs",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON p_partkey = l_partkey
    ),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n_orders
          FROM baskets),
    item AS (
        SELECT p_brand, count(*) AS item_cnt FROM baskets GROUP BY 1
    ),
    pair AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               count(*) AS pair_cnt
        FROM baskets a JOIN baskets b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY 1, 2
        HAVING count(*) >= 50
    )
    SELECT brand_a, brand_b,
           round(pair_cnt / n.n_orders, 6)            AS support,
           round(pair_cnt / CAST(ia.item_cnt AS DOUBLE), 6) AS confidence_a_to_b,
           round(pair_cnt * n.n_orders
                 / (CAST(ia.item_cnt AS DOUBLE) * ib.item_cnt), 6) AS lift,
           CAST(pair_cnt AS BIGINT) AS pair_cnt
    FROM pair
    JOIN item ia ON ia.p_brand = brand_a
    JOIN item ib ON ib.p_brand = brand_b
    CROSS JOIN n
    ORDER BY support DESC, brand_a, brand_b
    LIMIT 25
    """,
    doc="Frequent-itemset pairs mined relationally (the Apriori "
    "support-counting core, market-basket style): order baskets of "
    "distinct brands, pair supports via the basket self-join keyed "
    "on the ORDER (so cost follows per-basket width^2, never "
    "brand^2 x orders), a min-support HAVING prune, and "
    "confidence/lift from the tiny per-item support table "
    "(broadcast).  With bounded basket width the self-join is "
    "linear in orders at 100 TB — the same per-key pair-expansion "
    "discipline as the co-supply graph build; MLlib FPGrowth is "
    "the tree-based alternative when itemsets go beyond pairs.",
    tags=("relational", "agg", "join"),
)
def frequent_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # baskets feed the order count, per-item supports, and BOTH sides
    # of the pair self-join: cut the lineage so the lineitem⋈part
    # distinct runs once, not once per consumer
    baskets = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .select("l_orderkey", "p_brand")
        .distinct()
        .transform(ckpt)
    )
    n = baskets.agg(
        F.countDistinct("l_orderkey").cast("double").alias("n_orders")
    )
    item = baskets.groupBy("p_brand").agg(F.count("*").alias("item_cnt"))
    a, b = baskets.alias("a"), baskets.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(F.col("a.p_brand").alias("brand_a"), F.col("b.p_brand").alias("brand_b"))
        .agg(F.count("*").alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= 50)
    )
    ia = item.select(F.col("p_brand").alias("brand_a"), F.col("item_cnt").alias("cnt_a"))
    ib = item.select(F.col("p_brand").alias("brand_b"), F.col("item_cnt").alias("cnt_b"))
    return (
        pair.join(F.broadcast(ia), "brand_a")
        .join(F.broadcast(ib), "brand_b")
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            F.round(F.col("pair_cnt") / F.col("n_orders"), 6).alias("support"),
            F.round(F.col("pair_cnt") / F.col("cnt_a").cast("double"), 6).alias(
                "confidence_a_to_b"
            ),
            F.round(
                F.col("pair_cnt")
                * F.col("n_orders")
                / (F.col("cnt_a").cast("double") * F.col("cnt_b")),
                6,
            ).alias("lift"),
            F.col("pair_cnt").cast("bigint").alias("pair_cnt"),
        )
        .orderBy(F.desc("support"), "brand_a", "brand_b")
        .limit(25)
    )


@register(
    "bucketed_join_order_revenue",
    oracle="""
    SELECT o_orderstatus,
           round(sum(l_quantity * o_totalprice / 1000.0), 2) AS weighted_rev,
           count(*) AS n_lines
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="Bucketed co-located join as a first-class query: both join "
    "sides are written bucketBy(8, order key) + sortBy into the "
    "session warehouse, then joined and aggregated.  With broadcast "
    "off, the bucketed layout plans an exchange-FREE SortMergeJoin "
    "— that plan shape is gated in tests/test_bucketing.py; at "
    "fixture scale AQE may legitimately broadcast the small side "
    "instead, and at 100 TB (where neither side broadcasts) the "
    "bucket co-location is what removes the per-query shuffle, "
    "paying it once at write time.  The oracle recomputes the same "
    "aggregate from the raw tables, so the bucketed layout is "
    "proven value-preserving, not just plan-shaped.",
    tags=("relational", "join", "layout"),
)
def bucketed_join_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import reset_bucket_table, session_bucket_table

    # session-suffixed names: concurrent suites never drop each other's
    # tables; re-runs within a session overwrite their own
    li_t = session_bucket_table(spark, "q_li_b")
    orders_t = session_bucket_table(spark, "q_orders_b")
    for t in (li_t, orders_t):
        reset_bucket_table(spark, t)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    (
        li.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable(li_t)
    )
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable(orders_t)
    )
    joined = spark.table(li_t).join(
        spark.table(orders_t),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.round(
                F.sum(F.col("l_quantity") * F.col("o_totalprice") / 1000.0), 2
            ).alias("weighted_rev"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "winsorized_robust_stats",
    oracle="""
    WITH bounds AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.05) AS p05,
               quantile_cont(l_extendedprice, 0.95) AS p95
        FROM lineitem GROUP BY 1
    )
    SELECT l.l_returnflag,
           round(avg(least(greatest(l.l_extendedprice, b.p05), b.p95)), 4)
               AS winsorized_mean,
           round(avg(CASE WHEN l.l_extendedprice BETWEEN b.p05 AND b.p95
                          THEN l.l_extendedprice END), 4) AS trimmed_mean,
           round(avg(l.l_extendedprice), 4) AS raw_mean,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem l JOIN bounds b USING (l_returnflag)
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
    doc="Winsorized + trimmed means per group — the outlier-robust "
    "aggregation pattern: exact interpolated percentiles (Spark "
    "percentile ≡ DuckDB quantile_cont) bound each group, the tiny "
    "per-group bounds broadcast back onto the facts, and clipping/"
    "trimming happens in the second pass's map side.  Two passes over "
    "the facts total, no sort of the raw column; at 100 TB swap the "
    "exact percentile for the mergeable approx_percentile sketch "
    "(sketch_approx_quantiles) and the plan shape is unchanged.",
    tags=("relational", "agg", "robust"),
)
def winsorized_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.05)").alias("p05"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("p95"),
    )
    clipped = F.least(F.greatest(F.col("l_extendedprice"), F.col("p05")), F.col("p95"))
    inlier = F.col("l_extendedprice").between(F.col("p05"), F.col("p95"))
    return (
        li.join(F.broadcast(bounds), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.avg(clipped), 4).alias("winsorized_mean"),
            F.round(F.avg(F.when(inlier, F.col("l_extendedprice"))), 4).alias(
                "trimmed_mean"
            ),
            F.round(F.avg("l_extendedprice"), 4).alias("raw_mean"),
            F.count("*").cast("bigint").alias("n"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "equidepth_histogram_orders",
    oracle="""
    WITH edges AS (
        SELECT list_transform(
                   quantile_cont(o_totalprice,
                                 [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                   x -> round(x, 6)) AS es
        FROM orders
    )
    SELECT CAST(1 + len(list_filter(e.es, x -> o.o_totalprice > x))
                AS INTEGER) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           round(min(o.o_totalprice), 2) AS lo,
           round(max(o.o_totalprice), 2) AS hi
    FROM orders o CROSS JOIN edges e
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Equi-depth (decile) histogram without a global sort: the nine "
    "exact interpolated decile edges come from ONE aggregate (rounded "
    "identically on both engines so bin boundaries agree bit-for-bit), "
    "broadcast onto the facts, and each row finds its bin by counting "
    "edges below it with a higher-order array fold — map-side "
    "assignment, then a 10-group rollup.  The anti-pattern this "
    "replaces is ntile() over the whole fact table: a single-partition "
    "global sort that cannot scale.  At 100 TB the edges come from "
    "approx_percentile instead; assignment is unchanged.",
    tags=("relational", "agg", "histogram"),
)
def equidepth_histogram_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    edges = o.agg(
        F.expr(
            "transform(percentile(o_totalprice, "
            "array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)), "
            "x -> round(x, 6))"
        ).alias("es")
    )
    binned = o.crossJoin(F.broadcast(edges)).select(
        "o_totalprice",
        (
            F.lit(1)
            + F.expr(
                "aggregate(es, 0, (acc, x) -> acc + CASE WHEN o_totalprice > x THEN 1 ELSE 0 END)"
            )
        )
        .cast("int")
        .alias("bin"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("bin")
    )




@register(
    "filtered_agg_surface",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_bulk,
           round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2)
               AS discounted_rev,
           round(avg(l_extendedprice) FILTER (WHERE l_tax = 0), 4)
               AS taxfree_avg,
           CAST(count(*) AS BIGINT) AS n_total
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="ANSI FILTER-clause aggregates (SURVEY §2.4 surface row): "
    "several differently-predicated aggregates computed in ONE pass "
    "over the facts — the declarative replacement for N filtered "
    "sub-scans or CASE-WHEN pyramids.  Spark and DuckDB both "
    "evaluate the filters inside the aggregate operator, so map-side "
    "partials still combine; identical SQL text runs on both engines.",
    tags=("relational", "agg"),
)
def filtered_agg_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "lineitem")
    ev.createOrReplaceTempView("li_filtered_agg")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_bulk,
               round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2)
                   AS discounted_rev,
               round(avg(l_extendedprice) FILTER (WHERE l_tax = 0), 4)
                   AS taxfree_avg,
               CAST(count(*) AS BIGINT) AS n_total
        FROM li_filtered_agg
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """
    )


@register(
    "weighted_quantiles_price",
    oracle="""
    WITH agg AS (
        SELECT l_returnflag, l_extendedprice AS price,
               CAST(sum(l_quantity) AS DOUBLE) AS w
        FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
        SELECT l_returnflag, price, w,
               sum(w) OVER (PARTITION BY l_returnflag
                            ORDER BY price
                            ROWS UNBOUNDED PRECEDING) AS cw,
               sum(w) OVER (PARTITION BY l_returnflag) AS tw
        FROM agg
    )
    SELECT l_returnflag,
           round(min(CASE WHEN cw >= 0.5 * tw THEN price END), 2) AS w_p50,
           round(min(CASE WHEN cw >= 0.9 * tw THEN price END), 2) AS w_p90,
           round(max(tw), 2) AS total_weight
    FROM cum
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="Weighted quantiles (quantity-weighted p50/p90 of price per "
    "return flag) — neither engine has a weighted percentile builtin, "
    "so both run the identical construction: pre-aggregate to "
    "(group, value) with summed weights (collapses duplicate values "
    "map-side — the window then runs on the DISTINCT-value table, not "
    "the facts), cumulative-weight window ordered by value, first "
    "value whose cumulative weight crosses q·total.  The importance-"
    "weighted statistic mixture builders need where plain percentile "
    "over-counts cheap rows.",
    tags=("relational", "agg", "window", "robust"),
)
def weighted_quantiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy(
        "l_returnflag", F.col("l_extendedprice").alias("price")
    ).agg(F.sum("l_quantity").cast("double").alias("w"))
    wc = (
        W.partitionBy("l_returnflag")
        .orderBy("price")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = agg.select(
        "l_returnflag",
        "price",
        F.sum("w").over(wc).alias("cw"),
        F.sum("w").over(W.partitionBy("l_returnflag")).alias("tw"),
    )
    return (
        cum.groupBy("l_returnflag")
        .agg(
            F.round(
                F.min(F.when(F.col("cw") >= 0.5 * F.col("tw"), F.col("price"))), 2
            ).alias("w_p50"),
            F.round(
                F.min(F.when(F.col("cw") >= 0.9 * F.col("tw"), F.col("price"))), 2
            ).alias("w_p90"),
            F.round(F.max("tw"), 2).alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "generator_surface",
    oracle="""
    WITH n AS (SELECT n_nationkey, n_name, n_regionkey FROM nation),
    stacked AS (
        SELECT n_nationkey, 'name_len' AS metric,
               CAST(length(n_name) AS BIGINT) AS val FROM n
        UNION ALL
        SELECT n_nationkey, 'region' AS metric,
               CAST(n_regionkey AS BIGINT) AS val FROM n
        UNION ALL
        SELECT n_nationkey, 'key_sq' AS metric,
               CAST(n_nationkey * n_nationkey AS BIGINT) AS val FROM n
    )
    SELECT n_nationkey, metric, val
    FROM stacked
    ORDER BY n_nationkey, metric
    """,
    doc="Generator/table-function surface (SURVEY §2.10 beside "
    "posexplode/UDTF): stack(3, ...) turns N metric columns into "
    "(metric, val) rows — the wide→long transpose for metric tables "
    "— map-side row expansion, no shuffle; DuckDB mirrors with the "
    "UNION ALL stack() desugars to.",
    tags=("relational", "generator"),
)
def generator_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    return (
        n.select(
            "n_nationkey",
            F.expr(
                "stack(3, 'name_len', cast(length(n_name) as bigint), "
                "'region', cast(n_regionkey as bigint), "
                "'key_sq', cast(n_nationkey * n_nationkey as bigint)) "
                "AS (metric, val)"
            ),
        )
        .orderBy("n_nationkey", "metric")
    )


@register(
    "mom_revenue_growth",
    oracle="""
    WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               round(sum(o_totalprice), 2) AS revenue,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1
    )
    SELECT month, revenue, n_orders,
           round(revenue - lag(revenue) OVER (ORDER BY month), 2) AS mom_delta,
           round(100.0 * (revenue - lag(revenue) OVER (ORDER BY month))
                 / lag(revenue) OVER (ORDER BY month), 4) AS mom_pct,
           round(100.0 * (revenue - lag(revenue, 12) OVER (ORDER BY month))
                 / lag(revenue, 12) OVER (ORDER BY month), 4) AS yoy_pct
    FROM monthly
    ORDER BY month
    """,
    doc="Period-over-period growth — the BI staple: monthly revenue "
    "rollup, then month-over-month delta/percent and year-over-year "
    "percent via lag(1)/lag(12) windows.  The windows run over the "
    "AGGREGATED month table (|months| rows — the single-partition "
    "window is bounded by the calendar, never the facts; DuckDB "
    "stages the lag-over-aggregate through a CTE).  Growth rates on "
    "ROUNDED revenue keep the division engine-stable.",
    tags=("relational", "window", "agg"),
)
def mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count("*").cast("bigint").alias("n_orders"),
    )
    w = W.orderBy("month")
    prev = F.lag("revenue").over(w)
    prev12 = F.lag("revenue", 12).over(w)
    return monthly.select(
        "month",
        "revenue",
        "n_orders",
        F.round(F.col("revenue") - prev, 2).alias("mom_delta"),
        F.round(100.0 * (F.col("revenue") - prev) / prev, 4).alias("mom_pct"),
        F.round(100.0 * (F.col("revenue") - prev12) / prev12, 4).alias("yoy_pct"),
    ).orderBy("month")


@register(
    "transpose_lang_profile",
    oracle="""
    WITH s AS (
        SELECT lang,
               round(avg(n_chars), 4) AS avg_chars,
               round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
               CAST(count(*) AS DOUBLE) AS n_docs
        FROM documents GROUP BY lang
    )
    SELECT 'avg_chars' AS key,
           max(CASE WHEN lang = 'de' THEN avg_chars END) AS de,
           max(CASE WHEN lang = 'en' THEN avg_chars END) AS en,
           max(CASE WHEN lang = 'es' THEN avg_chars END) AS es,
           max(CASE WHEN lang = 'fr' THEN avg_chars END) AS fr,
           max(CASE WHEN lang = 'zh' THEN avg_chars END) AS zh
    FROM s
    UNION ALL
    SELECT 'avg_tokens',
           max(CASE WHEN lang = 'de' THEN avg_tokens END),
           max(CASE WHEN lang = 'en' THEN avg_tokens END),
           max(CASE WHEN lang = 'es' THEN avg_tokens END),
           max(CASE WHEN lang = 'fr' THEN avg_tokens END),
           max(CASE WHEN lang = 'zh' THEN avg_tokens END)
    FROM s
    UNION ALL
    SELECT 'n_docs',
           max(CASE WHEN lang = 'de' THEN n_docs END),
           max(CASE WHEN lang = 'en' THEN n_docs END),
           max(CASE WHEN lang = 'es' THEN n_docs END),
           max(CASE WHEN lang = 'fr' THEN n_docs END),
           max(CASE WHEN lang = 'zh' THEN n_docs END)
    FROM s
    ORDER BY key
    """,
    doc="DataFrame.transpose (Spark 4 API, SPARK-47081): a per-"
    "language metric profile flipped so metrics become rows and "
    "languages become columns — the wide report layout metric "
    "dashboards want.  transpose() requires uniform value types "
    "(all DOUBLE here) and takes new column names from the first "
    "column's values; the input aggregate is ordered by lang so the "
    "derived column order is deterministic.  The oracle builds the "
    "same pivoted table via conditional aggregation.  Scale note: "
    "transpose collects the (tiny, already-aggregated) input to "
    "derive the schema — correct for report-sized frames only, "
    "which is exactly this 5x4 profile; the corpus pass is the "
    "ordinary groupBy underneath.",
    tags=("relational", "agg", "spark4"),
)
def transpose_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stats = (
        docs.groupBy("lang")
        .agg(
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.round(F.avg(F.size(F.split("text", " "))), 4).alias("avg_tokens"),
            F.count("*").cast("double").alias("n_docs"),
        )
        .orderBy("lang")
    )
    return stats.transpose().orderBy("key")


@register(
    "stat_crosstab_priority",
    oracle="""
    SELECT o_orderstatus AS o_orderstatus_o_orderpriority,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                AS BIGINT) AS "1-URGENT",
           CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)
                AS BIGINT) AS "2-HIGH",
           CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)
                AS BIGINT) AS "3-MEDIUM",
           CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END)
                AS BIGINT) AS "4-NOT SPECIFIED",
           CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)
                AS BIGINT) AS "5-LOW"
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
    doc="df.stat.crosstab — the contingency-table convenience over "
    "order status x priority, value-checked against explicit "
    "conditional aggregation (which is also what Spark executes "
    "underneath: one pass, pivoted counts, no joins).  The checked "
    "claim is the API contract — first column named "
    "'col1_col2', one column per distinct value, zero-filled "
    "cells — so users can rely on crosstab instead of hand-writing "
    "the pivot.  One map-side-combined shuffle at any scale; the "
    "output is |status| x |priority| cells, independent of row "
    "count.",
    tags=("relational", "agg", "stats"),
)
def stat_crosstab_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    ct = orders.stat.crosstab("o_orderstatus", "o_orderpriority")
    cols = ["o_orderstatus_o_orderpriority"] + sorted(
        c for c in ct.columns if c != "o_orderstatus_o_orderpriority"
    )
    return ct.select(*cols).orderBy("o_orderstatus_o_orderpriority")


@register(
    "sql_pipe_syntax_rollup",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="Spark 4 SQL pipe syntax (|>): the same filter -> aggregate "
    "rollup written as a linear pipeline (FROM ... |> WHERE ... |> "
    "AGGREGATE ... GROUP BY), the composable-SQL surface Spark 4 "
    "added for dataflow-style authoring.  Catalyst lowers it to the "
    "identical logical plan as the nested form — the oracle is plain "
    "ANSI SQL and hash-matches, which is exactly the claim: pipe "
    "syntax is surface, the optimizer is shared.",
    tags=("relational", "sql", "agg"),
)
def sql_pipe_syntax_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("pipe_orders")
    return spark.sql(
        """
        FROM pipe_orders
        |> WHERE o_orderstatus = 'O'
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n,
                     round(sum(o_totalprice), 2) AS total
           GROUP BY o_orderpriority
        |> ORDER BY o_orderpriority
        """
    )


@register(
    "group_by_all_surface",
    oracle="""
    SELECT o_orderpriority,
           o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(o_totalprice), 2) AS avg_price
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
    """,
    doc="GROUP BY ALL / ORDER BY ALL (Spark 4 == DuckDB dialect): "
    "every non-aggregate select item becomes a grouping key and the "
    "whole output sorts by its columns left-to-right — the "
    "keystroke-saving dialect both engines share, run IDENTICALLY on "
    "both sides (the one oracle in the registry whose SQL text "
    "equals the Spark query text).",
    tags=("relational", "sql", "agg"),
)
def group_by_all_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("gba_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               o_orderstatus,
               CAST(count(*) AS BIGINT) AS n,
               round(avg(o_totalprice), 2) AS avg_price
        FROM gba_orders
        GROUP BY ALL
        ORDER BY ALL
        """
    )
