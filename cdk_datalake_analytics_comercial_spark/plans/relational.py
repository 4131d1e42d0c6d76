"""Relational query set — one named query per reference operator pattern
(SURVEY §2), expressed over the synthetic TPC-H-ish tables with a DuckDB
oracle for each.

Numeric policy: measures are summed as exact decimals and surfaced as
doubles; ratios divide the already-exact doubles (identical IEEE ops on both
engines) — hash-exact differential testing with zero tolerance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..core import magic_dates
from ..functions.keys import surrogate_key
from ..functions.transforms import (
    fn_transform_Case,
    fn_transform_ClearString,
    fn_transform_Concatenate,
)
from ..operators.relational import rolling_range_join, rolling_window, top1_per_group
from .common import period_yyyymm, dmul2, dsum, dsum_to_double, lake_db, t
from ..core.barrier import shared_barrier

# --------------------------------------------------------------------------
# A1/A2/P3 — hash aggregate with conditional measures (pricing summary).
# Pattern source: t_venta_detalle.py:205-319 (37 aggregates incl. sign-flip
# conditional sums, SURVEY A2); filter-early P3.


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = dmul2(F.col("l_extendedprice"), F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax")).cast("decimal(12,6)")
    returns_flip = F.when(F.col("l_returnflag") == "R", F.lit(-1)).otherwise(
        F.lit(1)
    ) * F.col("l_quantity").cast("decimal(12,4)")
    out = (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum_to_double(F.sum(disc_price.cast("decimal(38,12)"))).alias("sum_disc_price"),
            dsum_to_double(F.sum(charge.cast("decimal(38,18)"))).alias("sum_charge"),
            F.sum(returns_flip.cast("decimal(38,6)")).cast("double").alias("signed_qty"),
            F.count("*").cast("bigint").alias("count_order"),
        )
        .withColumn("avg_qty", F.round(F.col("sum_qty") / F.col("count_order"), 6))
    )
    return out


_ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
       CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,6)) * CAST(1.0 - l_discount AS DECIMAL(12,6)) AS DECIMAL(38,12))) AS DECIMAL(20,6)) AS DOUBLE) AS sum_disc_price,
       CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,6)) * CAST(1.0 - l_discount AS DECIMAL(12,6)) * CAST(1.0 + l_tax AS DECIMAL(12,6)) AS DECIMAL(38,18))) AS DECIMAL(20,6)) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST((CASE WHEN l_returnflag = 'R' THEN -1 ELSE 1 END) * CAST(l_quantity AS DECIMAL(12,4)) AS DECIMAL(38,6))) AS DOUBLE) AS signed_qty,
       CAST(COUNT(*) AS BIGINT) AS count_order,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / CAST(COUNT(*) AS BIGINT), 6) AS avg_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

# --------------------------------------------------------------------------
# J2/P1/§1.3 — left-join enrichment chain with surrogate keys and period
# derivation. Pattern source: t_venta.py:28-123 (6 left joins + wide select +
# concat_ws id + date_format period).


def q_sales_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    out = (
        o.join(c, o.o_custkey == c.c_custkey, "left")
        .join(n, c.c_nationkey == n.n_nationkey, "left")
        .join(r, n.n_regionkey == r.r_regionkey, "left")
        .select(
            surrogate_key(F.col("o_orderkey"), F.col("o_custkey")).alias("id_venta"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_custkey").alias("custkey"),
            F.coalesce(F.col("c_name"), F.lit("SIN CLIENTE")).alias("cliente"),
            F.coalesce(F.col("n_name"), F.lit("SIN NACION")).alias("nacion"),
            F.coalesce(F.col("r_name"), F.lit("SIN REGION")).alias("region"),
            period_yyyymm("o_orderdate").alias("id_periodo"),
            F.col("o_totalprice").cast("decimal(20,6)").cast("double").alias("imp_total"),
            F.when(F.col("o_orderstatus") == "F", F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("es_cerrado"),
        )
    )
    return out


_ORACLE_ENRICH = """
SELECT CONCAT(TRIM(CAST(o_orderkey AS VARCHAR)), '|', TRIM(CAST(o_custkey AS VARCHAR))) AS id_venta,
       o_orderkey AS orderkey,
       o_custkey AS custkey,
       COALESCE(c_name, 'SIN CLIENTE') AS cliente,
       COALESCE(n_name, 'SIN NACION') AS nacion,
       COALESCE(r_name, 'SIN REGION') AS region,
       strftime(o_orderdate, '%Y%m') AS id_periodo,
       CAST(CAST(o_totalprice AS DECIMAL(20,6)) AS DOUBLE) AS imp_total,
       CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS INT) AS es_cerrado
FROM orders
LEFT JOIN customer ON o_custkey = c_custkey
LEFT JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
"""

# --------------------------------------------------------------------------
# J3 — full outer join + coalesced key stitching. Pattern source:
# fact_kpi_detalle.py:98-161 (pedido↔venta alignment with coalesce keys).


def q_full_outer_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    open_side = (
        o.filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("ck_open"))
        .agg(
            F.count("*").cast("bigint").alias("open_orders"),
            dsum(F.col("o_totalprice")).alias("open_amount"),
        )
    )
    closed_side = (
        o.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("ck_closed"))
        .agg(
            F.count("*").cast("bigint").alias("closed_orders"),
            dsum(F.col("o_totalprice")).alias("closed_amount"),
        )
    )
    out = (
        open_side.join(
            closed_side, F.col("ck_open") == F.col("ck_closed"), "full"
        ).select(
            F.coalesce(F.col("ck_open"), F.col("ck_closed")).alias("custkey"),
            F.coalesce(F.col("open_orders"), F.lit(0)).cast("bigint").alias("open_orders"),
            F.coalesce(F.col("closed_orders"), F.lit(0)).cast("bigint").alias("closed_orders"),
            F.coalesce(F.col("open_amount"), F.lit(0.0)).alias("open_amount"),
            F.coalesce(F.col("closed_amount"), F.lit(0.0)).alias("closed_amount"),
        )
    )
    return out


_ORACLE_FULL_OUTER = """
WITH open_side AS (
  SELECT o_custkey AS ck_open, CAST(COUNT(*) AS BIGINT) AS open_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS open_amount
  FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey
), closed_side AS (
  SELECT o_custkey AS ck_closed, CAST(COUNT(*) AS BIGINT) AS closed_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS closed_amount
  FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
)
SELECT COALESCE(ck_open, ck_closed) AS custkey,
       COALESCE(open_orders, 0) AS open_orders,
       COALESCE(closed_orders, 0) AS closed_orders,
       COALESCE(open_amount, 0.0) AS open_amount,
       COALESCE(closed_amount, 0.0) AS closed_amount
FROM open_side FULL OUTER JOIN closed_side ON ck_open = ck_closed
"""

# --------------------------------------------------------------------------
# J4 — left anti join. Pattern source: t_pedido.py:352-359 (ADES rows not in
# the main pedido set).


def q_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderpriority") == "1-URGENT")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
    )


_ORACLE_LEFT_ANTI = """
SELECT c_custkey AS custkey, c_name AS name, c_mktsegment AS segment
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
)
"""

# --------------------------------------------------------------------------
# J5/A7 — rolling 3-month metric via range self-join over pre-aggregated
# periods. Pattern source: fact_cliente_venta.py:87-95 (3m), :131-139 (12m).


def _monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey, "inner")
        # ONE custkey exchange serves the whole rolling family (guide §2.4:
        # operations keyed the same way share an exchange): hash-partitioning
        # on custkey alone satisfies the aggregation's ClusteredDistribution
        # (custkey, id_periodo) — partitioning exprs are a subset of the
        # grouping keys — AND the downstream Window/range-self-join
        # distribution on custkey, so the monthly agg and its consumer run
        # in the same stage with no second exchange (measured: 2 Exchanges
        # → 1; rolling_3m_window wall 1.98 → 1.09 s at sf0.1). Byte math at
        # scale: the shuffle now carries raw joined rows (~32 B) instead of
        # two partially-aggregated exchanges (~34 B each at a ~4-6× group
        # reduction) — comparable total bytes, one fewer shuffle round-trip.
        # Column repartition (no number) keeps AQE free to size partitions.
        .repartition(F.col("o_custkey"))
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            period_yyyymm("o_orderdate").alias("id_periodo"),
        )
        .agg(
            F.sum(
                dmul2(F.col("l_extendedprice"), F.lit(1.0) - F.col("l_discount")).cast(
                    "decimal(38,12)"
                )
            ).alias("_rev_dec")
        )
    )


def q_rolling_3m(spark: SparkSession, sf_dir: str) -> DataFrame:
    monthly = _monthly_revenue(spark, sf_dir)
    out = rolling_range_join(
        monthly,
        keys=["custkey"],
        period_col="id_periodo",
        aggs=[
            dsum_to_double(F.sum(F.col("past._rev_dec"))).alias("rev_3m"),
            F.count("*").cast("bigint").alias("n_months"),
        ],
        months_back=2,
    )
    return out.select("custkey", "id_periodo", "rev_3m", "n_months")


def q_rolling_3m_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idiomatic rangeBetween rewrite of q_rolling_3m — same oracle, proving
    result equivalence (SURVEY §7.1 step 6)."""
    from ..operators.relational import _month_index

    monthly = _monthly_revenue(spark, sf_dir)
    # both rolling aggregates in ONE projection over ONE window spec: the
    # r12 shape built the sum via rolling_window() and the count via a
    # second withColumn, which the analyzer extracts as TWO stacked Window
    # nodes each with its own Sort — same spec, same frame, sorted twice.
    w = (
        Window.partitionBy("custkey")
        .orderBy(_month_index(F.col("id_periodo")))
        .rangeBetween(-2, 0)
    )
    return monthly.select(
        "custkey",
        "id_periodo",
        dsum_to_double(F.sum(F.col("_rev_dec")).over(w)).alias("rev_3m"),
        F.count("*").over(w).cast("bigint").alias("n_months"),
    )


_ORACLE_ROLLING_3M = """
WITH monthly AS (
  SELECT o_custkey AS custkey, strftime(o_orderdate, '%Y%m') AS id_periodo,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,6)) * CAST(1.0 - l_discount AS DECIMAL(12,6)) AS DECIMAL(38,12))) AS rev_dec
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
), idx AS (
  SELECT *, CAST(substr(id_periodo,1,4) AS INT)*12 + CAST(substr(id_periodo,5,2) AS INT) - 1 AS mi
  FROM monthly
)
SELECT cur.custkey AS custkey, cur.id_periodo AS id_periodo,
       CAST(CAST(SUM(past.rev_dec) AS DECIMAL(20,6)) AS DOUBLE) AS rev_3m,
       CAST(COUNT(*) AS BIGINT) AS n_months
FROM idx cur JOIN idx past
  ON cur.custkey = past.custkey AND past.mi BETWEEN cur.mi - 2 AND cur.mi
GROUP BY 1, 2
"""

# --------------------------------------------------------------------------
# J6 — hierarchy flatten via aliased join ladder. Pattern source:
# dim_eje_territorial.py:71-106 (NG4→NG3→NG2→NG1 ladder + pipe-path split).


def q_hierarchy_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").alias("c")
    n = t(spark, sf_dir, "nation").alias("n")
    r = t(spark, sf_dir, "region").alias("r")
    flat = (
        c.join(n, F.col("c.c_nationkey") == F.col("n.n_nationkey"), "left")
        .join(r, F.col("n.n_regionkey") == F.col("r.r_regionkey"), "left")
        .select(
            F.col("c.c_custkey").alias("custkey"),
            F.col("n.n_name").alias("nivel2"),
            F.col("r.r_name").alias("nivel1"),
            fn_transform_Concatenate(F.col("r.r_name"), F.col("n.n_name")).alias(
                "geo_path"
            ),
        )
    )
    # pipe-path split-and-pick, the reference's split(col,'\\|').getItem(1)
    return flat.withColumn(
        "nivel2_from_path", F.split(F.col("geo_path"), r"\|").getItem(1)
    )


_ORACLE_HIERARCHY = """
SELECT c_custkey AS custkey, n_name AS nivel2, r_name AS nivel1,
       CONCAT(TRIM(r_name), '|', TRIM(n_name)) AS geo_path,
       str_split(CONCAT(TRIM(r_name), '|', TRIM(n_name)), '|')[2] AS nivel2_from_path
FROM customer
LEFT JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
"""

# --------------------------------------------------------------------------
# W1 — row_number top-1 per group (the reference's only window pattern).
# Pattern source: m_cliente.py:41-48, dim_cliente.py:46-56.


def q_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    top = top1_per_group(
        o,
        partition_by=["o_custkey"],
        order_by=[F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
    )
    return top.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_orderdate").alias("last_orderdate"),
        F.col("o_totalprice").alias("last_totalprice"),
    )


_ORACLE_LATEST_ORDER = """
SELECT o_custkey AS custkey, o_orderkey AS last_orderkey,
       o_orderdate AS last_orderdate, o_totalprice AS last_totalprice
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS orden
  FROM orders
) WHERE orden = 1
"""

# --------------------------------------------------------------------------
# J7 — join with rank predicate embedded in the join condition. Pattern
# source: t_pedido_detalle_cumplimiento.py:206-214 (`vtha.orden == 1 &
# estado.isin(...)` inside the join condition).


def q_top1_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem")
    ranked = top1_per_group(
        o,
        partition_by=["o_custkey"],
        order_by=[F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
        keep=False,
    ).alias("v")
    out = (
        l.alias("l")
        .join(
            ranked,
            (F.col("l.l_orderkey") == F.col("v.o_orderkey"))
            & (F.col("v.orden") == 1)
            & (F.col("v.o_orderstatus").isin("F", "O")),
            "inner",
        )
        .groupBy(F.col("v.o_custkey").alias("custkey"))
        .agg(
            dsum(F.col("l.l_quantity")).alias("last_order_qty"),
            F.count("*").cast("bigint").alias("last_order_lines"),
        )
    )
    return out


_ORACLE_TOP1_JOIN = """
WITH ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS orden
  FROM orders
)
SELECT v.o_custkey AS custkey,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS last_order_qty,
       CAST(COUNT(*) AS BIGINT) AS last_order_lines
FROM lineitem l
JOIN ranked v ON l.l_orderkey = v.o_orderkey AND v.orden = 1 AND v.o_orderstatus IN ('F','O')
GROUP BY 1
"""

# --------------------------------------------------------------------------
# A3/A8/P6 — countDistinct + recency + HAVING-style post-agg filter.
# Pattern source: fact_cliente_venta.py:58-62, t_pedido_detalle_cumplimiento.py:335.


def q_nation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    n = t(spark, sf_dir, "nation")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "inner")
    )
    out = (
        joined.groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.countDistinct(F.col("o_custkey")).cast("bigint").alias("active_customers"),
            F.count("*").cast("bigint").alias("num_orders"),
            dsum(F.col("o_totalprice")).alias("total_amount"),
            F.max(F.col("o_orderdate")).alias("last_order_ts"),
        )
        .filter(F.col("num_orders") > 10)
    )
    return out


_ORACLE_NATION_STATS = """
SELECT n_name AS nation,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS active_customers,
       CAST(COUNT(*) AS BIGINT) AS num_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_amount,
       MAX(o_orderdate) AS last_order_ts
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
HAVING COUNT(*) > 10
"""

# --------------------------------------------------------------------------
# A4 — max()-as-representative attribute pick per group. Pattern source:
# t_pedido_detalle_cumplimiento.py:236-279 (20+ attribute max() columns).


def q_max_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    return l.groupBy(F.col("l_orderkey").alias("orderkey")).agg(
        F.max("l_returnflag").alias("returnflag"),
        F.max("l_linestatus").alias("linestatus"),
        F.max("l_shipdate").alias("last_shipdate"),
        dsum(F.col("l_quantity")).alias("total_qty"),
        F.count("*").cast("bigint").alias("n_lines"),
    )


_ORACLE_MAX_REPR = """
SELECT l_orderkey AS orderkey, MAX(l_returnflag) AS returnflag,
       MAX(l_linestatus) AS linestatus, MAX(l_shipdate) AS last_shipdate,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS total_qty,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem GROUP BY l_orderkey
"""

# --------------------------------------------------------------------------
# A7 — aggregate → join of aggregates → re-aggregate (share-of-year).
# Pattern source: fact_cliente_venta.py:29-127 (chained groupBys).


def q_monthly_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format("o_orderdate", "yyyy").alias("anio"),
        period_yyyymm("o_orderdate").alias("id_periodo"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("_m_dec"))
    yearly = monthly.groupBy("anio").agg(F.sum("_m_dec").alias("_y_dec"))
    out = monthly.join(yearly, "anio", "inner").select(
        "anio",
        "id_periodo",
        F.col("_m_dec").cast("double").alias("month_amount"),
        F.col("_y_dec").cast("double").alias("year_amount"),
        F.round(
            F.col("_m_dec").cast("double") / F.col("_y_dec").cast("double"), 6
        ).alias("share"),
    )
    return out


_ORACLE_MONTHLY_SHARE = """
WITH monthly AS (
  SELECT strftime(o_orderdate, '%Y') AS anio, strftime(o_orderdate, '%Y%m') AS id_periodo,
         SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS m_dec
  FROM orders GROUP BY 1, 2
), yearly AS (
  SELECT anio, SUM(m_dec) AS y_dec FROM monthly GROUP BY 1
)
SELECT monthly.anio AS anio, id_periodo,
       CAST(m_dec AS DOUBLE) AS month_amount,
       CAST(y_dec AS DOUBLE) AS year_amount,
       ROUND(CAST(m_dec AS DOUBLE) / CAST(y_dec AS DOUBLE), 6) AS share
FROM monthly JOIN yearly ON monthly.anio = yearly.anio
"""

# --------------------------------------------------------------------------
# U1/U2 — union of level projections + distinct. Pattern source:
# m_eje_territorial.py:163, m_estructura_comercial.py:196-197.


def q_union_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = t(spark, sf_dir, "region").select(
        F.lit("region").alias("nivel"), F.col("r_name").alias("nombre")
    )
    n = t(spark, sf_dir, "nation").select(
        F.lit("nation").alias("nivel"), F.col("n_name").alias("nombre")
    )
    s = t(spark, sf_dir, "customer").select(
        F.lit("segment").alias("nivel"), F.col("c_mktsegment").alias("nombre")
    )
    return r.unionByName(n).unionByName(s).distinct()


_ORACLE_UNION_LEVELS = """
SELECT DISTINCT * FROM (
  SELECT 'region' AS nivel, r_name AS nombre FROM region
  UNION ALL SELECT 'nation', n_name FROM nation
  UNION ALL SELECT 'segment', c_mktsegment FROM customer
)
"""

# --------------------------------------------------------------------------
# P4/P5/P8 — negation/null-guard predicates + derived columns. Pattern
# source: t_venta.py:44-47 (~isin + coalesce=='F'), m_cliente.py:106-108.


def q_predicate_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    out = (
        o.filter(
            (~F.col("o_orderpriority").isin("5-LOW", "4-NOT SPECIFIED"))
            & (F.coalesce(F.col("o_orderstatus"), F.lit("F")) != "P")
            & F.col("o_custkey").isNotNull()
        )
        .withColumn(
            "prioridad", F.split(F.col("o_orderpriority"), "-").getItem(0).cast("int")
        )
        .withColumn("es_urgente", (F.col("prioridad") == 1).cast("int"))
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderstatus").alias("status"),
            "prioridad",
            "es_urgente",
        )
    )
    return out


_ORACLE_PREDICATES = """
SELECT o_orderkey AS orderkey, o_orderstatus AS status,
       CAST(str_split(o_orderpriority, '-')[1] AS INT) AS prioridad,
       CAST(CAST(str_split(o_orderpriority, '-')[1] AS INT) = 1 AS INT) AS es_urgente
FROM orders
WHERE o_orderpriority NOT IN ('5-LOW', '4-NOT SPECIFIED')
  AND COALESCE(o_orderstatus, 'F') <> 'P'
  AND o_custkey IS NOT NULL
"""

# --------------------------------------------------------------------------
# P2 — declared-schema cast projection (every reference job's epilogue).
# Pattern source: t_venta.py:127-166.


def q_cast_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    return l.select(
        surrogate_key(F.col("l_orderkey"), F.col("l_linenumber")).alias("id_linea"),
        F.col("l_orderkey").cast("bigint").alias("orderkey"),
        F.col("l_linenumber").cast("int").alias("linenumber"),
        F.col("l_quantity").cast("decimal(38,12)").cast("decimal(20,6)").cast("double").alias("cantidad"),
        F.col("l_extendedprice").cast("decimal(38,12)").cast("decimal(20,6)").cast("double").alias("imp_bruto"),
        F.col("l_returnflag").cast("string").alias("flg_devolucion"),
        F.date_format(F.col("l_shipdate").cast("date"), "yyyy-MM-dd").alias("fecha_despacho"),
    )


_ORACLE_CAST_PROJ = """
SELECT CONCAT(TRIM(CAST(l_orderkey AS VARCHAR)), '|', TRIM(CAST(l_linenumber AS VARCHAR))) AS id_linea,
       CAST(l_orderkey AS BIGINT) AS orderkey,
       CAST(l_linenumber AS INT) AS linenumber,
       CAST(l_quantity AS DECIMAL(38,12)) AS cantidad,
       CAST(l_extendedprice AS DECIMAL(38,12)) AS imp_bruto,
       CAST(l_returnflag AS VARCHAR) AS flg_devolucion,
       strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS fecha_despacho
FROM lineitem
"""

# --------------------------------------------------------------------------
# §1.4/§2.10 — BigMagic date codecs (both pivots) + HHMMSS time encoding.
# Pattern source: loadt_stage_to_redshift.py:80-104,
# load_with_query_python.py:244-258.


def q_magic_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        F.col("o_orderkey").alias("orderkey"),
        F.date_format(d, "yyyy-MM-dd").alias("fecha"),
        magic_dates.date_to_magic_2008(d).alias("fecha_magic_2008"),
        magic_dates.date_to_magic_1900(d).alias("fecha_magic_1900"),
        F.date_format(
            magic_dates.magic_2008_to_date(magic_dates.date_to_magic_2008(d)),
            "yyyy-MM-dd",
        ).alias("fecha_rt"),
        magic_dates.time_to_hhmmss(F.col("o_orderdate")).alias("hora_magic"),
    )


_ORACLE_MAGIC_DATES = """
SELECT o_orderkey AS orderkey,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS fecha,
       CAST(datediff('day', DATE '2008-01-01', CAST(o_orderdate AS DATE)) + 733042 AS INT) AS fecha_magic_2008,
       CAST(datediff('day', DATE '1900-01-01', CAST(o_orderdate AS DATE)) + 693596 AS INT) AS fecha_magic_1900,
       strftime(DATE '2008-01-01' + CAST(datediff('day', DATE '2008-01-01', CAST(o_orderdate AS DATE)) AS INT), '%Y-%m-%d') AS fecha_rt,
       CAST(strftime(o_orderdate, '%H%M%S') AS INT) AS hora_magic
FROM orders
"""

# --------------------------------------------------------------------------
# §2.10 — fn_transform_* library showcase (ClearString / Concatenate / Case).
# Pattern source: datalake_columns_bigmagic.csv transform specs,
# loadt_stage_to_redshift.py:40-138.


def q_fn_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    seg_map = {"BUILDING": "B", "AUTOMOBILE": "A", "MACHINERY": "M"}
    return c.select(
        F.col("c_custkey").alias("custkey"),
        fn_transform_ClearString(F.col("c_name")).alias("nombre"),
        fn_transform_Concatenate(F.col("c_custkey"), F.col("c_mktsegment")).alias(
            "id_cliente"
        ),
        fn_transform_Case(F.col("c_mktsegment"), seg_map, default="X").alias(
            "cod_segmento"
        ),
    )


_ORACLE_FN_TRANSFORMS = """
SELECT c_custkey AS custkey,
       NULLIF(TRIM(c_name), '') AS nombre,
       CONCAT(TRIM(CAST(c_custkey AS VARCHAR)), '|', TRIM(c_mktsegment)) AS id_cliente,
       CASE TRIM(c_mktsegment) WHEN 'BUILDING' THEN 'B' WHEN 'AUTOMOBILE' THEN 'A'
            WHEN 'MACHINERY' THEN 'M' ELSE 'X' END AS cod_segmento
FROM customer
"""

# --------------------------------------------------------------------------
# J9/A1 — broadcast-dim join + aggregate. Pattern source: t_venta.py:40
# (cached small dims; Catalyst broadcasts ≤10MB — here made explicit).


def q_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    out = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey, "inner")
        .filter(F.col("p_size") < 30)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            dsum_to_double(
                F.sum(
                    dmul2(
                        F.col("l_extendedprice"), F.lit(1.0) - F.col("l_discount")
                    ).cast("decimal(38,12)")
                )
            ).alias("revenue"),
            F.countDistinct("l_partkey").cast("bigint").alias("n_parts"),
        )
    )
    return out


_ORACLE_BRAND_REVENUE = """
SELECT p_brand AS brand,
       CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,6)) * CAST(1.0 - l_discount AS DECIMAL(12,6)) AS DECIMAL(38,12))) AS DECIMAL(20,6)) AS DOUBLE) AS revenue,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size < 30
GROUP BY p_brand
"""

# --------------------------------------------------------------------------
# J1 — multi-key inner equi join (fact↔detail conformance). Pattern source:
# t_pedido_detalle_cumplimiento.py:354-372 (7-key + 3-key equi joins).


def q_multikey_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The multi-key "aggregate then re-join to the detail grain" pattern,
    # expressed as a window over the SAME 3-part key: one lineitem scan and
    # one exchange establish the (orderkey, partkey, suppkey) partitioning
    # and the group sum rides back to every detail row without the second
    # scan + join the r12 shape paid (guide §2.4 — two operations keyed the
    # same way share one exchange). Keys are non-null in this schema, so
    # the inner-join and window forms agree row-for-row; the decimal sum is
    # the identical aggregate either way.
    l = t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey", "l_partkey", "l_suppkey")
    return l.select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_partkey").alias("partkey"),
        F.col("l_suppkey").alias("suppkey"),
        F.col("l_linenumber").alias("linenumber"),
        F.col("l_quantity").alias("quantity"),
        F.sum(F.col("l_quantity").cast("decimal(38,6)"))
        .over(w)
        .cast("double")
        .alias("group_qty"),
    )


_ORACLE_MULTIKEY = """
WITH d AS (
  SELECT l_orderkey, l_partkey, l_suppkey,
         SUM(CAST(l_quantity AS DECIMAL(38,6))) AS qty_dec
  FROM lineitem GROUP BY 1, 2, 3
)
SELECT l.l_orderkey AS orderkey, l.l_partkey AS partkey, l.l_suppkey AS suppkey,
       l.l_linenumber AS linenumber, l.l_quantity AS quantity,
       CAST(d.qty_dec AS DOUBLE) AS group_qty
FROM lineitem l
JOIN d ON l.l_orderkey = d.l_orderkey AND l.l_partkey = d.l_partkey AND l.l_suppkey = d.l_suppkey
"""


# --------------------------------------------------------------------------
# J5 (12-month variant) — the reference's long rolling window
# (fact_cliente_venta.py:131-139), via the rangeBetween rewrite.


def q_rolling_12m_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    monthly = _monthly_revenue(spark, sf_dir)
    out = rolling_window(
        monthly,
        keys=["custkey"],
        period_col="id_periodo",
        agg_exprs=[(F.col("_rev_dec"), "_rev_12m_dec")],
        months_back=11,
    )
    return out.select(
        "custkey",
        "id_periodo",
        dsum_to_double(F.col("_rev_12m_dec")).alias("rev_12m"),
    )


_ORACLE_ROLLING_12M = """
WITH monthly AS (
  SELECT o_custkey AS custkey, strftime(o_orderdate, '%Y%m') AS id_periodo,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,6)) * CAST(1.0 - l_discount AS DECIMAL(12,6)) AS DECIMAL(38,12))) AS rev_dec
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
), idx AS (
  SELECT *, CAST(substr(id_periodo,1,4) AS INT)*12 + CAST(substr(id_periodo,5,2) AS INT) - 1 AS mi
  FROM monthly
)
SELECT cur.custkey AS custkey, cur.id_periodo AS id_periodo,
       CAST(CAST(SUM(past.rev_dec) AS DECIMAL(20,6)) AS DOUBLE) AS rev_12m
FROM idx cur JOIN idx past
  ON cur.custkey = past.custkey AND past.mi BETWEEN cur.mi - 11 AND cur.mi
GROUP BY 1, 2
"""

# --------------------------------------------------------------------------
# §4a — sargable period filter (operators.pruning.period_filter): the range
# predicate reaches the parquet scan; exact yyyyMM membership preserved.
# Gapped period list exercises both predicates.


def q_period_pruned_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pruning import period_filter

    o = t(spark, sf_dir, "orders")
    periods = ["199601", "199602", "199604"]  # gap: 199603 excluded
    return (
        o.filter(period_filter(F.col("o_orderdate"), periods))
        .groupBy(period_yyyymm("o_orderdate").alias("id_periodo"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total"),
        )
    )


_ORACLE_PERIOD_PRUNED = """
SELECT strftime(o_orderdate, '%Y%m') AS id_periodo,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
FROM orders
WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-04-30'
  AND strftime(o_orderdate, '%Y%m') IN ('199601', '199602', '199604')
GROUP BY 1
"""

# --------------------------------------------------------------------------
# Skew path — two-stage salted aggregation must equal the plain GROUP BY
# (operators.skew.salted_agg; the oracle is the plain form).


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_agg

    l = t(spark, sf_dir, "lineitem")
    return salted_agg(
        l,
        keys=["l_returnflag"],
        partial_aggs=[
            F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("_s"),
            F.count("*").alias("_c"),
        ],
        final_aggs=[
            F.sum("_s").cast("double").alias("sum_qty"),
            F.sum("_c").cast("bigint").alias("n_rows"),
        ],
        salt_from="l_orderkey",
        n_salts=16,
    ).withColumnRenamed("l_returnflag", "returnflag")


_ORACLE_SALTED_AGG = """
SELECT l_returnflag AS returnflag,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""

# --------------------------------------------------------------------------
# J7 (when-in-join-key variant) — conditional expression inside the join
# condition. Pattern source: m_cliente.py:26-35 (cond built with when()).


def q_conditional_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").alias("c")
    n = t(spark, sf_dir, "nation").alias("n")
    # machinery-segment customers join on nation; everyone else pins to
    # nation 0 — a when() ladder as the join key, as the reference builds
    effective_key = F.when(
        F.col("c.c_mktsegment") == "MACHINERY", F.col("c.c_nationkey")
    ).otherwise(F.lit(0))
    out = (
        c.join(n, effective_key == F.col("n.n_nationkey"), "inner")
        .groupBy(F.col("n.n_name").alias("nation"))
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            dsum(F.col("c.c_acctbal")).alias("total_balance"),
        )
    )
    return out


_ORACLE_CONDITIONAL_JOIN = """
SELECT n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_balance
FROM customer
JOIN nation ON (CASE WHEN c_mktsegment = 'MACHINERY' THEN c_nationkey ELSE 0 END) = n_nationkey
GROUP BY n_name
"""


# --------------------------------------------------------------------------
# Fulfillment idiom (t_pedido_detalle_cumplimiento.py:354-372 /
# jobs.domain.t_pedido_cumplimiento_lite): pre-aggregate BOTH sides to the
# wide natural key BEFORE the left join (map-side combine, no fan-out), A4
# representative attribute, zero-coalesce for never-dispatched lines, ratio
# over the exact decimals in double.


def q_fulfillment_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    key = ["l_orderkey", "l_partkey", "l_suppkey"]
    ordered = l.groupBy(*key).agg(
        F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("_ped"),
        F.max("l_returnflag").alias("ret_flag"),
    )
    shipped = (
        l.filter(F.col("l_linestatus") == "F")
        .groupBy(*key)
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("_desp"))
    )
    out = (
        ordered.join(shipped, key, "left")
        .withColumn("_desp", F.coalesce(F.col("_desp"), F.lit(0).cast("decimal(38,6)")))
        .select(
            *key,
            "ret_flag",
            F.col("_ped").cast("double").alias("qty_ordered"),
            F.col("_desp").cast("double").alias("qty_shipped"),
            F.round(
                F.col("_desp").cast("double") / F.col("_ped").cast("double"), 6
            ).alias("fill_ratio"),
        )
    )
    return out


_ORACLE_FULFILLMENT = """
WITH ordered AS (
  SELECT l_orderkey, l_partkey, l_suppkey,
         SUM(CAST(l_quantity AS DECIMAL(38,6))) AS qty_ordered,
         MAX(l_returnflag) AS ret_flag
  FROM lineitem GROUP BY l_orderkey, l_partkey, l_suppkey
), shipped AS (
  SELECT l_orderkey, l_partkey, l_suppkey,
         SUM(CAST(l_quantity AS DECIMAL(38,6))) AS qty_shipped
  FROM lineitem WHERE l_linestatus = 'F'
  GROUP BY l_orderkey, l_partkey, l_suppkey
)
SELECT o.l_orderkey, o.l_partkey, o.l_suppkey, o.ret_flag,
       CAST(o.qty_ordered AS DOUBLE) AS qty_ordered,
       CAST(COALESCE(s.qty_shipped, 0) AS DOUBLE) AS qty_shipped,
       ROUND(CAST(COALESCE(s.qty_shipped, 0) AS DOUBLE)
             / CAST(o.qty_ordered AS DOUBLE), 6) AS fill_ratio
FROM ordered o
LEFT JOIN shipped s
  ON o.l_orderkey = s.l_orderkey AND o.l_partkey = s.l_partkey
 AND o.l_suppkey = s.l_suppkey
"""


# --------------------------------------------------------------------------
# Correlated-scalar-subquery decorrelation (TPC-H Q17 shape): revenue from
# lineitems whose quantity is below 20% of the per-part average. The SQL
# idiom is a correlated scalar subquery per outer row; the Spark-first plan
# DECORRELATES it — one pre-aggregation per part, joined back on the part
# key, so the "subquery" runs once per part instead of once per row (the
# rewrite Catalyst itself applies to correlated scalars, made explicit).
# The 20%-of-average threshold is exact integer math (5·qty·n < Σqty) —
# no float division on the comparison path, so the survivor set is
# bit-identical across engines.


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("bigint").alias("qty"),
        "l_extendedprice",
    )
    p = t(spark, sf_dir, "part").filter(F.col("p_size") < 15)

    per_part = l.groupBy("l_partkey").agg(
        F.sum("qty").alias("sum_qty"), F.count(F.lit(1)).alias("n_li")
    )
    small = (
        l.join(per_part, "l_partkey")
        .filter(F.lit(5) * F.col("qty") * F.col("n_li") < F.col("sum_qty"))
    )
    return (
        small.join(F.broadcast(p), small.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_small"),
            dsum(F.col("l_extendedprice")).alias("lost_revenue"),
        )
    )


_ORACLE_SMALL_QTY_REVENUE = """
WITH li AS (
  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty, l_extendedprice
  FROM lineitem
), per_part AS (
  SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS sum_qty, COUNT(*) AS n_li
  FROM li GROUP BY 1
)
SELECT p_brand AS brand,
       CAST(COUNT(*) AS BIGINT) AS n_small,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS lost_revenue
FROM li
JOIN per_part USING (l_partkey)
JOIN part ON l_partkey = p_partkey
WHERE p_size < 15 AND 5 * qty * n_li < sum_qty
GROUP BY p_brand
"""


# --------------------------------------------------------------------------
# W1 scale twin: the same latest-order-per-customer result via struct-max
# aggregation (operators.relational.top1_per_group_agg) — map-side partial
# combine shuffles |customers| candidate rows instead of |orders| full
# rows. Shares the window form's oracle: result-identical because the
# order ends in the unique o_orderkey.


def q_latest_order_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import top1_per_group_agg

    o = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"
    )
    top = top1_per_group_agg(
        o, partition_by=["o_custkey"], order_desc=["o_orderdate", "o_orderkey"]
    )
    return top.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_orderdate").alias("last_orderdate"),
        F.col("o_totalprice").alias("last_totalprice"),
    )


# --------------------------------------------------------------------------
# EXISTS decorrelation → LEFT SEMI join (TPC-H Q4 shape): orders having at
# least one lineitem shipped >90 days after the order date, counted per
# priority. The correlated EXISTS subquery becomes a semi join — one
# output row per order regardless of how many lineitems qualify (no
# fan-out, unlike an inner join + distinct), then a tiny aggregate.


def q_late_orders_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem")
    late = o.join(
        l,
        (o.o_orderkey == l.l_orderkey)
        & (l.l_shipdate > F.date_add(o.o_orderdate, 90)),
        "left_semi",
    )
    return late.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_late_orders")
    )


_ORACLE_LATE_ORDERS = """
SELECT o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_late_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
)
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# ROLLUP aggregation (engine extension — the reference has no grouping
# sets, SURVEY §2.5). One pass computes the (region, nation) hierarchy
# totals: Catalyst expands the rollup into grouping-set projections inside
# a single shuffle instead of N re-aggregations + union. Grand-total and
# subtotal rows mark the rolled-up column with a sentinel (the grouping()
# bit), so the result is deterministic and join-friendly.


def q_sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    base = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        base.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("revenue"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("<ALL>")).alias("region"),
            F.coalesce(F.col("n_name"), F.lit("<ALL>")).alias("nation"),
            "n_orders",
            "revenue",
        )
    )


_ORACLE_SALES_ROLLUP = """
SELECT COALESCE(r_name, '<ALL>') AS region,
       COALESCE(n_name, '<ALL>') AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


# --------------------------------------------------------------------------
# PIVOT / UNPIVOT (engine extensions — classic reshaping the reference
# lacks). Pivot with an EXPLICIT value list: at scale an unlisted pivot
# forces an extra distinct-values job AND risks a million-column schema;
# the explicit list keeps it one shuffle. Unpivot is Spark's native
# `unpivot` (melt); the oracle is the UNION ALL expansion.


def q_status_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "priority",
            F.coalesce(F.col("O"), F.lit(0)).cast("bigint").alias("n_open"),
            F.coalesce(F.col("F"), F.lit(0)).cast("bigint").alias("n_finished"),
            F.coalesce(F.col("P"), F.lit(0)).cast("bigint").alias("n_pending"),
        )
    )


_ORACLE_STATUS_PIVOT = """
SELECT o_orderpriority AS priority,
       CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n_open,
       CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_finished,
       CAST(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS n_pending
FROM orders GROUP BY o_orderpriority
"""


def q_measures_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part")
    wide = p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").alias("retailprice"),
    )
    return wide.unpivot(
        ["p_partkey"], ["size", "retailprice"], "measure", "value"
    )


_ORACLE_MEASURES_UNPIVOT = """
SELECT p_partkey, 'size' AS measure, CAST(p_size AS DOUBLE) AS value FROM part
UNION ALL
SELECT p_partkey, 'retailprice', p_retailprice FROM part
"""


def _staged_global_order(df: DataFrame) -> bool:
    """Strategy gate for the two exact global-order queries (deciles /
    pareto): below the threshold the classic single-partition Window is
    FASTER (the staged shape pays ~3 extra stages of fixed overhead on
    metadata-sized grains); above it the single task becomes the wall and
    the staged range-bucket shape wins. Gated on the KNOWN source input
    bytes of the plan (file-relation leaves), like the CC broadcast gate
    (operators/graph.py) — strategy only, results bit-identical (pinned by
    test_global_order_staged_matches_single_partition and the oracle runs
    with the env forced both ways). Default 4 GiB: a one-task sort of the
    per-key grain of ≤4 GiB of source parquet is seconds; a 100 TB fact
    table is ~5 orders of magnitude past it."""
    import os

    from ..core.barrier import known_input_bytes

    limit = int(
        os.environ.get("SPARK_GRAFT_GLOBAL_WINDOW_MAX_INPUT", 4 * 1024**3)
    )
    return known_input_bytes(df) > limit


def _order_buckets(df: DataFrame, col: Column, nb: int) -> Column:
    """A bucket id that is monotone NON-DECREASING along ``col`` DESC —
    the staging key for distributed-exact global-order windows (guide
    §2.2/§2.4). Approximate quantile boundaries are resolved to the driver
    (nb-1 doubles — the 'tiny totals to the driver' pattern; boundary
    quality affects only balance, never correctness) and baked into a
    binary-search tree of CaseWhen literals, so bucketing is whole-stage
    codegen with log2(nb) comparisons per row — no crossJoin subtree, no
    interpreted higher-order function. Returns ``#boundaries > col``;
    NULLs take the last bucket, since ``desc()`` orders them last (the
    classic single-partition window's placement)."""
    probs = [i / nb for i in range(1, nb)]
    row = df.agg(F.percentile_approx(col, probs).alias("_gb")).first()
    bounds = sorted(set(row["_gb"] or []))

    def rec(lo: int, hi: int) -> Column:
        if lo >= hi:
            return F.lit(0)
        mid = (lo + hi) // 2
        # bounds ascend, so bounds[mid] > v implies every later one is too
        return F.when(
            F.lit(bounds[mid]) > col, F.lit(hi - mid) + rec(lo, mid)
        ).otherwise(rec(mid + 1, hi))

    return F.when(col.isNull(), F.lit(len(bounds))).otherwise(
        rec(0, len(bounds))
    )


# --------------------------------------------------------------------------
# ntile deciles: equal-frequency bucketing over a TOTAL order (ties broken
# by key so the decile boundaries are deterministic) — the window family's
# distribution member (the reference's windows are ranking-only). The
# global window necessarily single-partitions, but its input is the
# AGGREGATED per-customer set (|keys| rows, not |orders|) — at larger key
# cardinalities switch to percentile-threshold bucketing (doc_quantiles
# pattern) instead of exact tiling.


def q_customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DISTRIBUTED-EXACT global ntile (guide §2.2/§2.4; r13 verdict #1): the
    # naive form is a single-partition Window over every customer — a
    # one-task wall at 100 TB key cardinalities. Instead the total order is
    # split into value-range buckets (approx-quantile boundaries: balance
    # only, never correctness), ranks are computed per bucket in parallel,
    # and exact cross-bucket rank offsets come from a P-row bucket-count
    # frame (the only remaining single-partition window runs over those P
    # rows, not the data). ntile(10) is then a closed-form function of the
    # exact global rank and N, so results are bit-identical to the oracle.
    # Below the size gate the classic one-Window form is cheaper (fewer
    # stages) and Spark's single-partition window on the aggregated grain
    # is harmless; the staged shape takes over once the source is big
    # (bit-identical either way — see _staged_global_order).
    o = t(spark, sf_dir, "orders")
    per_cust_plan = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        dsum(F.col("o_totalprice")).alias("total_value")
    )
    if not _staged_global_order(o):
        w = Window.orderBy(F.col("total_value").desc(), F.col("custkey").asc())
        return (
            per_cust_plan.withColumn(
                "decile", F.ntile(10).over(w).cast("int")
            )
            .groupBy("decile")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_customers"),
                F.round(F.sum("total_value"), 4).alias("decile_value"),
            )
        )
    per_cust = per_cust_plan.transform(shared_barrier)  # quantiles + ranks
    nb = max(2, spark.sparkContext.defaultParallelism)
    # bucket = #boundaries strictly above the value: monotone along the
    # (total_value DESC) order, so bucket boundaries respect the total
    # order and ties stay inside one bucket
    bucketed = per_cust.withColumn(
        "_b", _order_buckets(per_cust, F.col("total_value"), nb)
    )
    wb = Window.orderBy("_b")
    offs = bucketed.groupBy("_b").agg(F.count(F.lit(1)).alias("_cnt")).select(
        "_b",
        F.coalesce(
            F.sum("_cnt").over(wb.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("_prev"),
        F.sum("_cnt")
        .over(
            wb.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        .alias("_n"),
    )
    w = Window.partitionBy("_b").orderBy(
        F.col("total_value").desc(), F.col("custkey").asc()
    )
    ranked = (
        bucketed.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(offs), "_b")
        .withColumn("_r", F.col("_prev") + F.col("_rn"))
    )
    # exact ntile(10): the first (N mod 10) deciles take ceil(N/10) rows
    decile = F.expr(
        "CASE WHEN _r <= ((_n div 10) + 1) * (_n % 10) "
        "THEN (_r - 1) div ((_n div 10) + 1) + 1 "
        "ELSE (_n % 10) "
        "   + (_r - ((_n div 10) + 1) * (_n % 10) - 1) div (_n div 10) + 1 "
        "END"
    ).cast("int")
    return (
        ranked.withColumn("decile", decile)
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(F.sum("total_value"), 4).alias("decile_value"),
        )
    )


_ORACLE_VALUE_DECILES = """
WITH per_cust AS (
  SELECT o_custkey AS custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_value
  FROM orders GROUP BY o_custkey
), tiled AS (
  SELECT *, CAST(ntile(10) OVER (ORDER BY total_value DESC, custkey ASC) AS INT) AS decile
  FROM per_cust
)
SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(SUM(total_value), 4) AS decile_value
FROM tiled GROUP BY decile
"""


# --------------------------------------------------------------------------
# CUBE + grouping_id: every aggregation level of (status, priority) in one
# pass (Spark plans one Expand + one shuffle, not 4 scans). gid
# disambiguates a subtotal row from a natural value (the reference's
# multi-level union ladders, e.g. fact_kpi levels, get this for free here).


def q_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("revenue"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("<ALL>")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("<ALL>")).alias("priority"),
            "gid",
            "n_orders",
            "revenue",
        )
    )


_ORACLE_CUBE = """
SELECT COALESCE(o_orderstatus, '<ALL>') AS status,
       COALESCE(o_orderpriority, '<ALL>') AS priority,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""

# --------------------------------------------------------------------------
# Window navigation breadth: lag/lead/first_value/percent_rank/cume_dist in
# one window pass per customer timeline. One shuffle serves every function
# (they share the window spec); days_to_next reuses the lead expression.


def q_order_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    next_date = F.lead("o_orderdate").over(w)
    return o.select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("orderdate"),
        F.lag("o_totalprice").over(w).alias("prev_total"),
        next_date.alias("next_orderdate"),
        F.first("o_orderdate").over(w).alias("first_orderdate"),
        F.round(F.percent_rank().over(w), 10).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 10).alias("cume"),
        F.datediff(next_date.cast("date"), F.col("o_orderdate").cast("date"))
        .cast("int")
        .alias("days_to_next"),
    )


_ORACLE_TIMELINE = """
SELECT o_orderkey AS orderkey, o_custkey AS custkey, o_orderdate AS orderdate,
       LAG(o_totalprice) OVER w AS prev_total,
       LEAD(o_orderdate) OVER w AS next_orderdate,
       FIRST_VALUE(o_orderdate) OVER w AS first_orderdate,
       ROUND(PERCENT_RANK() OVER w, 10) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 10) AS cume,
       CAST(date_diff('day', CAST(o_orderdate AS DATE),
                      CAST(LEAD(o_orderdate) OVER w AS DATE)) AS INT) AS days_to_next
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""

# --------------------------------------------------------------------------
# Calendar gap-fill + forward fill (operators/timeseries.py): dense monthly
# revenue per nation — months with no orders appear as 0-revenue rows, and
# carried_revenue repeats the last observed month (null before the first).


def q_monthly_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import forward_fill, month_grid

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        )
        .agg(dsum(F.col("o_totalprice")).alias("obs_revenue"))
        # two consumers (grid bounds + the left join) and AQE does not
        # reuse the exchange across them — materialize the join+agg once
        .transform(shared_barrier)
    )
    grid = month_grid(n.select(F.col("n_name").alias("nation")), monthly, "month")
    joined = grid.join(monthly, ["nation", "month"], "left")
    filled = forward_fill(joined, ["nation"], "month", "obs_revenue", "carried_revenue")
    return filled.select(
        "nation",
        "month",
        F.coalesce("obs_revenue", F.lit(0.0)).alias("revenue"),
        "carried_revenue",
    )


_ORACLE_GAP_FILL = """
WITH monthly AS (
  SELECT n_name AS nation, date_trunc('month', o_orderdate) AS month,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS obs_revenue
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
), bounds AS (
  SELECT MIN(month) AS lo, MAX(month) AS hi FROM monthly
), months AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS month
  FROM bounds
), grid AS (
  SELECT n_name AS nation, month FROM nation, months
)
SELECT g.nation, g.month,
       COALESCE(m.obs_revenue, 0.0) AS revenue,
       LAST_VALUE(m.obs_revenue IGNORE NULLS) OVER (
         PARTITION BY g.nation ORDER BY g.month
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried_revenue
FROM grid g
LEFT JOIN monthly m ON g.nation = m.nation AND g.month = m.month
"""

# --------------------------------------------------------------------------
# KMV approximate distinct (operators/sketches.py): portable sketch whose
# ESTIMATE hash-matches the oracle (HLL can only ever be rows-checked).
# exact_distinct rides along so the result exposes the estimation error.

_KMV_K = 64
_SQL_KMV_HASH = (
    "CAST(list_sum(list_transform(range(1, 16), i -> "
    "CAST(strpos('0123456789abcdef', substr(md5(CAST(custkey AS VARCHAR)), i, 1)) - 1 AS BIGINT)"
    " << (4 * (15 - i)))) AS BIGINT)"
)


def q_approx_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import kmv_distinct

    o = t(spark, sf_dir, "orders")
    pairs = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_custkey").alias("custkey"),
    )
    # ONE (priority, custkey) distinct grain serves the sketch and the
    # exact COUNT(DISTINCT) (guide §2.4) — each previously re-scanned
    # orders and re-shuffled the full pair stream for its own distinct.
    dv = pairs.distinct().transform(shared_barrier)
    sketch = kmv_distinct(
        dv, ["priority"], "custkey", k=_KMV_K, assume_distinct=True
    )
    exact = dv.groupBy("priority").agg(
        # count(custkey), not count(1): countDistinct skipped NULLs, and a
        # (priority, NULL) row in the distinct grain must stay skipped
        F.count(F.col("custkey")).cast("bigint").alias("exact_distinct")
    )
    return sketch.join(exact, "priority").select(
        "priority", "n_kept", "kth_hash", "kmv_estimate", "exact_distinct"
    )


_ORACLE_KMV = f"""
WITH pairs AS (
  SELECT DISTINCT o_orderpriority AS priority, o_custkey AS custkey FROM orders
), hashed AS (
  SELECT priority, custkey, {_SQL_KMV_HASH} AS h FROM pairs
), kept AS (
  SELECT * FROM (
    SELECT priority, custkey, h,
           ROW_NUMBER() OVER (PARTITION BY priority ORDER BY h ASC, custkey ASC) AS rn
    FROM hashed
  ) WHERE rn <= {_KMV_K}
), agg AS (
  SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_kept, MAX(h) AS kth_hash
  FROM kept GROUP BY priority
), exact AS (
  SELECT priority, CAST(COUNT(DISTINCT custkey) AS BIGINT) AS exact_distinct
  FROM pairs GROUP BY priority
)
SELECT a.priority, n_kept, kth_hash,
       ROUND(CASE WHEN n_kept < {_KMV_K} THEN CAST(n_kept AS DOUBLE)
             ELSE {float(_KMV_K - 1)} / (CAST(kth_hash AS DOUBLE) / 1152921504606846976.0)
             END, 4) AS kmv_estimate,
       exact_distinct
FROM agg a JOIN exact USING (priority)
"""


# --------------------------------------------------------------------------
# Linear interpolation across calendar gaps (operators/timeseries.py):
# missing months blend their neighbors time-weighted; edges stay null.


def q_monthly_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import interpolate_linear, month_grid

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        )
        .agg(dsum(F.col("o_totalprice")).alias("obs_revenue"))
        # two consumers (grid bounds + the left join) and AQE does not
        # reuse the exchange across them — materialize the join+agg once
        .transform(shared_barrier)
    )
    grid = month_grid(n.select(F.col("n_name").alias("nation")), monthly, "month")
    joined = grid.join(monthly, ["nation", "month"], "left")
    return interpolate_linear(
        joined, ["nation"], "month", "obs_revenue", "interp_revenue"
    ).select("nation", "month", "obs_revenue", "interp_revenue")


_ORACLE_INTERPOLATE = """
WITH monthly AS (
  SELECT n_name AS nation, date_trunc('month', o_orderdate) AS month,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS obs_revenue
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
), bounds AS (
  SELECT MIN(month) AS lo, MAX(month) AS hi FROM monthly
), months AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS month FROM bounds
), grid AS (
  SELECT n_name AS nation, month FROM nation, months
), joined AS (
  SELECT g.nation, g.month, m.obs_revenue,
         CAST(epoch(g.month) AS BIGINT) AS t
  FROM grid g LEFT JOIN monthly m ON g.nation = m.nation AND g.month = m.month
), ctx AS (
  SELECT nation, month, obs_revenue, t,
         LAST_VALUE(obs_revenue IGNORE NULLS) OVER wb AS prev_v,
         LAST_VALUE(CASE WHEN obs_revenue IS NOT NULL THEN t END IGNORE NULLS) OVER wb AS prev_t,
         FIRST_VALUE(obs_revenue IGNORE NULLS) OVER wf AS next_v,
         FIRST_VALUE(CASE WHEN obs_revenue IS NOT NULL THEN t END IGNORE NULLS) OVER wf AS next_t
  FROM joined
  WINDOW wb AS (PARTITION BY nation ORDER BY month
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY nation ORDER BY month
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT nation, month, obs_revenue,
       ROUND(CASE WHEN obs_revenue IS NOT NULL THEN obs_revenue
             WHEN prev_v IS NULL OR next_v IS NULL THEN NULL
             ELSE prev_v + (next_v - prev_v) *
                  (CAST(t - prev_t AS DOUBLE) / CAST(next_t - prev_t AS DOUBLE))
             END, 6) AS interp_revenue
FROM ctx
"""

# --------------------------------------------------------------------------
# HyperLogLog (operators/sketches.py): constant-size registers vs KMV's k
# rows — and still estimate-level hash-matched against the oracle.


def q_approx_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import hll_distinct

    o = t(spark, sf_dir, "orders")
    pairs = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_custkey").alias("custkey"),
    )
    # shared distinct grain, as in q_approx_distinct_kmv (guide §2.4)
    dv = pairs.distinct().transform(shared_barrier)
    sketch = hll_distinct(dv, ["priority"], "custkey", p=8, assume_distinct=True)
    exact = dv.groupBy("priority").agg(
        # count(custkey), not count(1): countDistinct skipped NULLs, and a
        # (priority, NULL) row in the distinct grain must stay skipped
        F.count(F.col("custkey")).cast("bigint").alias("exact_distinct")
    )
    return sketch.join(exact, "priority").select(
        "priority", "hll_buckets_used", "hll_estimate", "exact_distinct"
    )


def _hll_oracle() -> str:
    from ..operators.sketches import hll_alpha

    m, rmax = 256, 53
    alpha_num = repr(hll_alpha(m) * m * m * float(1 << rmax))
    return f"""
WITH pairs AS (
  SELECT DISTINCT o_orderpriority AS priority, o_custkey AS custkey FROM orders
), hashed AS (
  SELECT priority, {_SQL_KMV_HASH} AS h FROM pairs
), rhos AS (
  SELECT priority, h & {m - 1} AS bucket,
         CASE WHEN (h >> 8) > 0 THEN {rmax} - length(bin(h >> 8)) ELSE {rmax} END AS rho
  FROM hashed
), regs AS (
  SELECT priority, bucket, MAX(rho) AS reg FROM rhos GROUP BY priority, bucket
), agg AS (
  SELECT priority,
         CAST(SUM(CAST(1 AS BIGINT) << ({rmax} - reg)) AS BIGINT) AS s_int,
         CAST(COUNT(*) AS BIGINT) AS present
  FROM regs GROUP BY priority
), est AS (
  SELECT priority, present,
         {alpha_num} / CAST(({m} - present) * {1 << rmax} + s_int AS DOUBLE) AS raw,
         {m} - present AS zeros
  FROM agg
), exact AS (
  SELECT priority, CAST(COUNT(DISTINCT custkey) AS BIGINT) AS exact_distinct
  FROM pairs GROUP BY priority
)
SELECT e.priority, present AS hll_buckets_used,
       ROUND(CASE WHEN raw <= {2.5 * m} AND zeros > 0
             THEN {float(m)} * ln({float(m)} / CAST(zeros AS DOUBLE))
             ELSE raw END, 4) AS hll_estimate,
       exact_distinct
FROM est e JOIN exact USING (priority)
"""


_ORACLE_HLL = _hll_oracle()


# --------------------------------------------------------------------------
# RFM segmentation — the flagship commercial-analytics cut for a
# sales-and-distribution platform like the reference: per customer, Recency
# (days since last order vs the table's anchor date), Frequency (orders),
# Monetary (exact decimal revenue), quintile-scored and bucketed into the
# marketing segments. Scores are global ntile(5) windows with a custkey
# tiebreak so both engines rank identically; at 100 TB the exact global
# sort becomes approx-quantile thresholds (documented trade — same as
# customer_value_deciles).


def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("_anchor"))
    per = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("_last"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        dsum(F.col("o_totalprice")).alias("monetary"),
    )
    per = per.crossJoin(F.broadcast(anchor)).withColumn(
        "recency_days",
        F.datediff(F.col("_anchor").cast("date"), F.col("_last").cast("date"))
        .cast("int"),
    )
    w_r = Window.orderBy(F.col("recency_days").desc(), F.col("custkey").asc())
    w_f = Window.orderBy(F.col("frequency").asc(), F.col("custkey").asc())
    w_m = Window.orderBy(F.col("monetary").asc(), F.col("custkey").asc())
    scored = (
        per.withColumn("r_score", F.ntile(5).over(w_r).cast("int"))
        .withColumn("f_score", F.ntile(5).over(w_f).cast("int"))
        .withColumn("m_score", F.ntile(5).over(w_m).cast("int"))
    )
    seg = (
        F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "champion")
        .when(F.col("f_score") >= 4, "loyal")
        .when(F.col("r_score") >= 4, "recent")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "hibernating")
        .otherwise("regular")
    )
    return scored.select(
        "custkey", "recency_days", "frequency",
        F.round(F.col("monetary"), 4).alias("monetary"),
        "r_score", "f_score", "m_score", seg.alias("segment"),
    )


_ORACLE_CUSTOMER_RFM = """
WITH per AS (
  SELECT o_custkey AS custkey,
         MAX(o_orderdate) AS last_order,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
), rec AS (
  SELECT custkey, frequency, monetary,
         CAST(date_diff('day', CAST(last_order AS DATE),
              CAST((SELECT MAX(o_orderdate) FROM orders) AS DATE)) AS INT)
           AS recency_days
  FROM per
), scored AS (
  SELECT custkey, recency_days, frequency, monetary,
         CAST(ntile(5) OVER (ORDER BY recency_days DESC, custkey ASC) AS INT) AS r_score,
         CAST(ntile(5) OVER (ORDER BY frequency ASC, custkey ASC) AS INT) AS f_score,
         CAST(ntile(5) OVER (ORDER BY monetary ASC, custkey ASC) AS INT) AS m_score
  FROM rec
)
SELECT custkey, recency_days, frequency, ROUND(monetary, 4) AS monetary,
       r_score, f_score, m_score,
       CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
            WHEN f_score >= 4 THEN 'loyal'
            WHEN r_score >= 4 THEN 'recent'
            WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
            ELSE 'regular' END AS segment
FROM scored
"""


# --------------------------------------------------------------------------
# Cheapest-supplier-per-part (TPC-H Q2 shape on the available tables —
# there is no partsupp, so lineitem is the part×supplier cost evidence):
# the SQL idiom is a correlated MIN subquery per part; the Spark-first plan
# decorrelates to one (part, supp) pre-aggregation and a rank-1 window per
# part. Unit price compares as an INTEGER micros-per-unit key (price cents
# × 1e6 div qty) with (cents, qty, suppkey) tiebreaks — a float ratio in
# ORDER BY would make cross-engine ranking ulp-fragile.


def q_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    l = t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    # top-1 per part as ONE lexicographic struct-MIN over the raw lines:
    # min(struct(line_unit_micros, suppkey)) per part equals the
    # row_number()-over-(unit_micros ASC, suppkey ASC) winner of the
    # per-(part, supp) minima, because the global min unit price u* is
    # achieved exactly by the lines whose (part, supp) group-min is u* —
    # so lex-min over lines = lex-min over group minima. The r12→r13 shape
    # staged TWO hash aggregations ((part, supp) min, then (part)
    # struct-min) with an exchange each; fusing them drops one exchange
    # and one aggregate pass (guide §2.4), and the partial (map-side) agg
    # still reduces to one struct per part per task before the shuffle.
    best = (
        l.groupBy("l_partkey")
        .agg(
            F.min(
                F.struct(
                    F.expr("cents * 1000000 div qty").alias("unit_micros"),
                    "l_suppkey",
                )
            ).alias("_best")
        )
        .select(
            "l_partkey",
            F.col("_best.unit_micros").alias("unit_micros"),
            F.col("_best.l_suppkey").alias("l_suppkey"),
        )
    )
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    return (
        best.join(F.broadcast(s), best.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("supplier"),
            F.col("n_name").alias("nation"),
            (F.col("unit_micros").cast("double") / F.lit(1000000.0)).alias(
                "unit_price"
            ),
        )
    )


_ORACLE_CHEAPEST_SUPPLIER = """
WITH per AS (
  SELECT l_partkey, l_suppkey,
         MIN((CAST(ROUND(l_extendedprice * 100) AS BIGINT) * 1000000)
             // CAST(l_quantity AS BIGINT)) AS unit_micros
  FROM lineitem GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY l_partkey ORDER BY unit_micros ASC, l_suppkey ASC) AS rn
  FROM per
)
SELECT r.l_partkey AS partkey, s.s_suppkey AS suppkey,
       s.s_name AS supplier, n.n_name AS nation,
       CAST(r.unit_micros AS DOUBLE) / 1000000.0 AS unit_price
FROM ranked r
JOIN supplier s ON r.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE r.rn = 1
"""


# --------------------------------------------------------------------------
# ABC / Pareto classification — the inventory-analytics cut the reference's
# valuation jobs feed: parts ranked by exact-decimal revenue, cumulative
# share thresholds 80/95% → A/B/C classes. The cumulative sum runs in
# DECIMAL over the ordered window (exact, order-independent); shares
# surface through decimal(24,4) → double: the 2dp×2dp products are EXACTLY
# 4dp, so that rescale is LOSSLESS (no rounding mode in play — a 2dp
# rescale would hit half-boundaries where Spark HALF_UP and DuckDB differ)
# and the scaled integer stays under 2^53, so the one division per row is
# bit-identical across engines and the threshold CASE can never flip.


def q_orders_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # DISTRIBUTED-EXACT cumulative share (guide §2.2/§2.4; r13 verdict #1):
    # same staged shape as q_customer_value_deciles — value-range buckets
    # from approx quantiles (balance only), per-bucket decimal prefix sums
    # in parallel, exact cross-bucket offsets from the P-row bucket-sum
    # frame. Decimal addition is exact, so bucket boundaries cannot perturb
    # the cumulative sums; the old separate grand-total branch folds into
    # the same P-row frame (one fewer full aggregation of rev).
    l = t(spark, sf_dir, "lineitem")
    rev_plan = l.groupBy("l_partkey").agg(
        F.sum(
            dmul2(F.col("l_extendedprice"), F.lit(1) - F.col("l_discount"))
        ).alias("_rev_dec")
    )
    if not _staged_global_order(l):
        # classic form below the size gate (see _staged_global_order);
        # barrier the grain so the grand-total branch shares one scan
        rev0 = rev_plan.transform(shared_barrier)
        w0 = Window.orderBy(F.col("_rev_dec").desc(), F.col("l_partkey").asc())
        total = rev0.agg(F.sum("_rev_dec").alias("_tot_dec"))
        scored0 = (
            rev0.withColumn(
                "_cum_dec",
                F.sum("_rev_dec").over(
                    w0.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
            )
            .crossJoin(F.broadcast(total))
            .select(
                F.col("l_partkey").alias("partkey"),
                F.col("_rev_dec").cast("decimal(24,4)").cast("double").alias(
                    "revenue"
                ),
                (
                    F.col("_cum_dec").cast("decimal(24,4)").cast("double")
                    / F.col("_tot_dec").cast("decimal(24,4)").cast("double")
                ).alias("cum_share"),
            )
        )
        cls0 = (
            F.when(F.col("cum_share") <= 0.80, "A")
            .when(F.col("cum_share") <= 0.95, "B")
            .otherwise("C")
        )
        return scored0.select(
            "partkey", "revenue", "cum_share", cls0.alias("abc")
        )
    rev = rev_plan.transform(shared_barrier)  # quantiles + sums + prefix
    nb = max(2, spark.sparkContext.defaultParallelism)
    # double cast is order-preserving on decimals, so the bucket function
    # is monotone along (_rev_dec DESC); exact ordering inside a bucket
    # stays on the decimal
    bucketed = rev.withColumn(
        "_b", _order_buckets(rev, F.col("_rev_dec").cast("double"), nb)
    )
    wb = Window.orderBy("_b")
    offs = bucketed.groupBy("_b").agg(F.sum("_rev_dec").alias("_bsum")).select(
        "_b",
        F.sum("_bsum")
        .over(wb.rowsBetween(Window.unboundedPreceding, -1))
        .alias("_prev_dec"),
        F.sum("_bsum")
        .over(
            wb.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        .alias("_tot_dec"),
    )
    w = Window.partitionBy("_b").orderBy(
        F.col("_rev_dec").desc(), F.col("l_partkey").asc()
    )
    scored = (
        bucketed.withColumn(
            "_lcum_dec",
            F.sum("_rev_dec").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .join(F.broadcast(offs), "_b")
        .withColumn(
            "_cum_dec",
            F.col("_lcum_dec") + F.coalesce(F.col("_prev_dec"), F.lit(0)),
        )
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("_rev_dec").cast("decimal(24,4)").cast("double").alias(
                "revenue"
            ),
            (
                F.col("_cum_dec").cast("decimal(24,4)").cast("double")
                / F.col("_tot_dec").cast("decimal(24,4)").cast("double")
            ).alias("cum_share"),
        )
    )
    cls = (
        F.when(F.col("cum_share") <= 0.80, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
    )
    return scored.select("partkey", "revenue", "cum_share", cls.alias("abc"))


_ORACLE_ABC_PARETO = """
WITH rev AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(12,6))
             * CAST(1 - l_discount AS DECIMAL(12,6))) AS rev_dec
  FROM lineitem GROUP BY l_partkey
), scored AS (
  SELECT l_partkey,
         CAST(CAST(rev_dec AS DECIMAL(24,4)) AS DOUBLE) AS revenue,
         CAST(CAST(SUM(rev_dec) OVER (
             ORDER BY rev_dec DESC, l_partkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DECIMAL(24,4)) AS DOUBLE)
         / CAST(CAST((SELECT SUM(rev_dec) FROM rev) AS DECIMAL(24,4)) AS DOUBLE)
           AS cum_share
  FROM rev
)
SELECT l_partkey AS partkey, revenue, cum_share,
       CASE WHEN cum_share <= 0.80 THEN 'A'
            WHEN cum_share <= 0.95 THEN 'B'
            ELSE 'C' END AS abc
FROM scored
"""


# --------------------------------------------------------------------------
# Market-basket affinity — co-occurrence of part pairs within an order,
# with support and lift. The pair generation is an EQUI self-join on
# l_orderkey over the deduped (order, part) grain with p1 < p2 — globally
# linear in Σ(order_size²) with order sizes bounded ~7 in TPC-H shape,
# never a cartesian. All counts integer; support/lift are single IEEE
# divisions of integer-valued doubles (bit-identical, no rounding).


def q_part_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    # ONE exchange builds the deduped per-order part set (collect_set does
    # the `distinct` inside the aggregation — the r12 shape computed
    # `op.distinct()` FIVE times: once per self-join side, twice for
    # per_part, once for the order-count anchor; 5 scans + 8 exchanges).
    # Order sizes are basket-bounded (~7 in TPC-H shape), so the arrays
    # are metadata-sized and the pair expansion below stays linear in
    # Σ(order_size²) exactly like the self-join it replaces.
    op_sets = (
        l.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .transform(shared_barrier)  # 3 consumers: pairs/per_part/anchor
    )
    n_orders_anchor = op_sets.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    # ordered (p1 < p2) pairs per order, generated JVM-side from the
    # sorted array (i < j ⇒ p1 < p2) — no self-join, no second shuffle of
    # the order/part grain; the only remaining exchange is the (p1,p2)
    # aggregation.
    pair_arr = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + F.lit(2), F.size(F.col("ps"))),
                lambda y: F.struct(x.alias("p1"), y.alias("p2")),
            ),
        )
    )
    pairs = (
        op_sets.select(F.explode(pair_arr).alias("pr"))
        .select(F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
        .filter(F.col("n_both") >= 3)
    )
    per_part = (
        op_sets.select(F.explode("ps").alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_p"))
    )
    # per_part has one row per DISTINCT PART — it grows with the data, so
    # no broadcast hint: AQE applies its size check at runtime and keeps
    # the join a shuffle join once the dimension outgrows the threshold
    return (
        pairs.join(
            per_part.withColumnsRenamed({"p": "p1", "n_p": "n1"}), "p1"
        )
        .join(per_part.withColumnsRenamed({"p": "p2", "n_p": "n2"}), "p2")
        .crossJoin(F.broadcast(n_orders_anchor))
        .select(
            "p1",
            "p2",
            "n_both",
            (
                F.col("n_both").cast("double")
                / F.col("n_orders").cast("double")
            ).alias("support"),
            (
                (F.col("n_both") * F.col("n_orders")).cast("double")
                / (F.col("n1") * F.col("n2")).cast("double")
            ).alias("lift"),
        )
    )


_ORACLE_PART_AFFINITY = """
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op
), pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 3
), per_part AS (
  SELECT l_partkey AS p, CAST(COUNT(*) AS BIGINT) AS n_p FROM op GROUP BY 1
)
SELECT pr.p1, pr.p2, pr.n_both,
       CAST(pr.n_both AS DOUBLE)
         / CAST((SELECT n_orders FROM n) AS DOUBLE) AS support,
       CAST(pr.n_both * (SELECT n_orders FROM n) AS DOUBLE)
         / CAST(c1.n_p * c2.n_p AS DOUBLE) AS lift
FROM pairs pr
JOIN per_part c1 ON pr.p1 = c1.p
JOIN per_part c2 ON pr.p2 = c2.p
"""


# --------------------------------------------------------------------------
# TPC-H Q5 shape — regional same-nation supplier volume: the heaviest classic
# multi-join (fact × fact × 4 dims) with a non-key equality (customer and
# supplier must share a nation). Engine shape: dims filtered FIRST and
# broadcast; the only big shuffles are the two fact joins on their keys.


def q_regional_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1996)
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nr = F.broadcast(n.join(r, n.n_regionkey == r.r_regionkey, "inner"))
    out = (
        c.join(o, c.c_custkey == o.o_custkey, "inner")
        .join(l, F.col("o_orderkey") == F.col("l_orderkey"), "inner")
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
            "inner",
        )
        .join(nr, F.col("s_nationkey") == F.col("n_nationkey"), "inner")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            dsum_to_double(
                F.sum(
                    dmul2(
                        F.col("l_extendedprice"), F.lit(1.0) - F.col("l_discount")
                    ).cast("decimal(38,12)")
                )
            ).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )
    return out


_ORACLE_REGIONAL_VOLUME = """
SELECT n_name AS nation,
       CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,6)) * CAST(1.0 - l_discount AS DECIMAL(12,6)) AS DECIMAL(38,12))) AS DECIMAL(20,6)) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND year(o_orderdate) = 1996
GROUP BY n_name
"""


# --------------------------------------------------------------------------
# TPC-H Q18 shape — large-volume orders: group-aggregate a fact, HAVING-
# filter the groups, then enrich the survivors through two dimension joins.
# Engine shape: the HAVING prunes before any join; the orders join reuses
# the aggregation's orderkey partitioning, customer broadcasts.


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("_q"))
        .filter(F.col("_q") > 150)
    )
    out = (
        o.join(big, o.o_orderkey == big.l_orderkey, "inner")
        .join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_totalprice").alias("totalprice"),
            F.col("_q").cast("double").alias("sum_qty"),
        )
    )
    return out


_ORACLE_LARGE_ORDERS = """
WITH big AS (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(38,6))) AS q
  FROM lineitem GROUP BY 1
  HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 150
)
SELECT c_custkey AS custkey, c_name AS name, o_orderkey AS orderkey,
       o_orderdate AS orderdate, o_totalprice AS totalprice,
       CAST(q AS DOUBLE) AS sum_qty
FROM orders
JOIN big      ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# --------------------------------------------------------------------------
# TPC-H Q3 shape — shipping priority: segment-filtered customers, unshipped
# orders as of a cut date, top-10 by exact revenue. Engine shape: the
# customer dim filters FIRST and broadcasts; both date filters reach the
# fact scans (sargable); the global top-10 is a TakeOrderedAndProject (no
# full sort). Ties broken on orderkey so the cut is engine-deterministic.


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cut = F.lit("1997-06-01").cast("timestamp")
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cut)
    l = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cut)
    out = (
        l.join(o, l.l_orderkey == o.o_orderkey, "inner")
        .join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            dsum_to_double(
                F.sum(
                    dmul2(
                        F.col("l_extendedprice"), F.lit(1.0) - F.col("l_discount")
                    ).cast("decimal(38,12)")
                )
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("orderkey"))
        .limit(10)
    )
    return out


_ORACLE_SHIPPING_PRIORITY = """
SELECT l_orderkey AS orderkey, o_orderdate AS orderdate,
       o_orderpriority AS priority,
       CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,6)) * CAST(1.0 - l_discount AS DECIMAL(12,6)) AS DECIMAL(38,12))) AS DECIMAL(20,6)) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-01'
  AND l_shipdate  > TIMESTAMP '1997-06-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, orderkey
LIMIT 10
"""


# --------------------------------------------------------------------------
# TPC-H Q4 shape — order-priority checking: orders in one quarter that had at
# least one SLOW line (shipped >30 days after the order date), counted per
# priority class. The reference's schema has no commitdate, so "late" is
# expressed against the order date. Engine shape: EXISTS compiles to a
# LEFT SEMI join — no row duplication, count stays order-grained; the
# quarter filter prunes the orders scan before the shuffle.


def q_order_priority_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    l = t(spark, sf_dir, "lineitem")
    late = o.join(
        l,
        (o.o_orderkey == l.l_orderkey)
        & (l.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_late_orders"))
    )


_ORACLE_ORDER_PRIORITY_LATE = """
SELECT o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_late_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 30 DAY
  )
GROUP BY 1
"""


# --------------------------------------------------------------------------
# TPC-H Q7 shape — volume shipping between two nations: cross-border flows
# where (supplier nation, customer nation) is one of the two directed pairs,
# grouped by flow direction and ship year. Engine shape: nation is broadcast
# onto BOTH fact sides (aliased), the directed-pair predicate is evaluated
# pre-aggregation, and the only large shuffles are the two fact-key joins.


def q_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    s = t(spark, sf_dir, "supplier")
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem")
    out = (
        l.join(o, l.l_orderkey == o.o_orderkey, "inner")
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey, "inner")
        .join(c, o.o_custkey == c.c_custkey, "inner")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"), "inner")
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"), "inner")
        .filter(
            # Directed cross-border pairs within a fixed nation subset: the
            # classic Q7 two-nation predicate is empty at smoke scale
            # (sf0.001 has no NATION_1<->NATION_2 trade), so the pair set is
            # every ordered pair among nations 0..3 — same plan shape, and
            # non-empty at every test scale.
            (F.col("sn_key") < 4)
            & (F.col("cn_key") < 4)
            & (F.col("supp_nation") != F.col("cust_nation"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(
            dsum_to_double(
                F.sum(
                    dmul2(
                        F.col("l_extendedprice"), F.lit(1.0) - F.col("l_discount")
                    ).cast("decimal(38,12)")
                )
            ).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )
    return out


_ORACLE_NATION_TRADE = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS ship_year,
       CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,6)) * CAST(1.0 - l_discount AS DECIMAL(12,6)) AS DECIMAL(38,12))) AS DECIMAL(20,6)) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN customer  ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_nationkey < 4 AND n2.n_nationkey < 4
  AND n1.n_name <> n2.n_name
GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# TPC-H Q10 shape — returned-item reporting: top-20 customers by revenue
# lost to returns in one quarter, enriched with the customer dim and nation
# name. Engine shape: the returnflag + quarter filters prune the two fact
# scans; aggregation keys on custkey only (the dim attributes ride along
# via a post-agg broadcast join, keeping the shuffle narrow).


def q_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    l = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    per_cust = (
        l.join(o, l.l_orderkey == o.o_orderkey, "inner")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            dsum_to_double(
                F.sum(
                    dmul2(
                        F.col("l_extendedprice"), F.lit(1.0) - F.col("l_discount")
                    ).cast("decimal(38,12)")
                )
            ).alias("lost_revenue")
        )
    )
    out = (
        per_cust.join(F.broadcast(c), F.col("custkey") == c.c_custkey, "inner")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "inner")
        .select(
            "custkey",
            F.col("c_name").alias("name"),
            F.col("n_name").alias("nation"),
            F.col("c_acctbal").alias("acctbal"),
            "lost_revenue",
        )
        .orderBy(F.col("lost_revenue").desc(), F.col("custkey"))
        .limit(20)
    )
    return out


_ORACLE_RETURNED_CUSTOMERS = """
WITH per_cust AS (
  SELECT o_custkey AS custkey,
         CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,6)) * CAST(1.0 - l_discount AS DECIMAL(12,6)) AS DECIMAL(38,12))) AS DECIMAL(20,6)) AS DOUBLE) AS lost_revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1997-07-01'
    AND o_orderdate <  TIMESTAMP '1997-10-01'
  GROUP BY 1
)
SELECT custkey, c_name AS name, n_name AS nation, c_acctbal AS acctbal,
       lost_revenue
FROM per_cust
JOIN customer ON custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
ORDER BY lost_revenue DESC, custkey
LIMIT 20
"""


# --------------------------------------------------------------------------
# TPC-H Q14 shape — promotion effect: per ship-month share of revenue coming
# from PROMO-type parts. Numeric policy: both the promo and total sums are
# exact decimals surfaced as doubles; the share is then 2 IEEE ops
# (multiply, divide) on exact inputs — identical on both engines. Engine
# shape: part broadcasts; one fact shuffle (the group-by).


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem").filter(F.year("l_shipdate") == 1998)
    p = t(spark, sf_dir, "part")
    rev = dmul2(F.col("l_extendedprice"), F.lit(1.0) - F.col("l_discount")).cast(
        "decimal(38,12)"
    )
    out = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey, "inner")
        .groupBy(period_yyyymm("l_shipdate").alias("ship_month"))
        .agg(
            dsum_to_double(
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)))
            ).alias("promo_revenue"),
            dsum_to_double(F.sum(rev)).alias("total_revenue"),
        )
        .withColumn(
            "promo_share_pct",
            F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue"),
        )
    )
    return out


_ORACLE_PROMO_SHARE = """
WITH m AS (
  SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS VARCHAR) AS ship_month,
         CAST(CAST(SUM(CASE WHEN p_type = 'PROMO'
                   THEN CAST(CAST(l_extendedprice AS DECIMAL(12,6)) * CAST(1.0 - l_discount AS DECIMAL(12,6)) AS DECIMAL(38,12))
                   ELSE CAST(0 AS DECIMAL(38,12)) END) AS DECIMAL(20,6)) AS DOUBLE) AS promo_revenue,
         CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,6)) * CAST(1.0 - l_discount AS DECIMAL(12,6)) AS DECIMAL(38,12))) AS DECIMAL(20,6)) AS DOUBLE) AS total_revenue
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE year(l_shipdate) = 1998
  GROUP BY 1
)
SELECT ship_month, promo_revenue, total_revenue,
       100.0 * promo_revenue / total_revenue AS promo_share_pct
FROM m
"""


# --------------------------------------------------------------------------
# TPC-H Q8 shape — national market share: the share of one nation's
# suppliers in a region's revenue, per order year. Engine shape: dims
# (region→nation, nation-of-supplier) broadcast; the conditional share
# numerator and the total are ONE aggregation pass (no second scan); the
# share divides two identically-derived doubles (engine-portable).


def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    s = t(spark, sf_dir, "supplier")
    c = t(spark, sf_dir, "customer")
    n_supp = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n_cust = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("c_rkey")
    )
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    rev = dmul2(F.col("l_extendedprice"), F.lit(1.0) - F.col("l_discount")).cast(
        "decimal(38,12)"
    )
    out = (
        l.join(o, l.l_orderkey == o.o_orderkey, "inner")
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey, "inner")
        .join(c, o.o_custkey == c.c_custkey, "inner")
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"), "inner")
        .join(F.broadcast(r), F.col("c_rkey") == F.col("r_regionkey"), "inner")
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"), "inner")
        .groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            dsum_to_double(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(
                        F.lit(0).cast("decimal(38,12)")
                    )
                )
            ).alias("nation_revenue"),
            dsum_to_double(F.sum(rev)).alias("total_revenue"),
        )
        .withColumn(
            "mkt_share", F.col("nation_revenue") / F.col("total_revenue")
        )
    )
    return out


_ORACLE_MARKET_SHARE = """
WITH m AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
         CAST(CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
               THEN CAST(CAST(l_extendedprice AS DECIMAL(12,6)) * CAST(1.0 - l_discount AS DECIMAL(12,6)) AS DECIMAL(38,12))
               ELSE CAST(0 AS DECIMAL(38,12)) END) AS DECIMAL(20,6)) AS DOUBLE) AS nation_revenue,
         CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,6)) * CAST(1.0 - l_discount AS DECIMAL(12,6)) AS DECIMAL(38,12))) AS DECIMAL(20,6)) AS DOUBLE) AS total_revenue
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'EUROPE'
  GROUP BY 1
)
SELECT order_year, nation_revenue, total_revenue,
       nation_revenue / total_revenue AS mkt_share
FROM m
"""


# --------------------------------------------------------------------------
# TPC-H Q9 shape — product-line margin by supplier nation and year (no
# partsupp table in this schema, so supply cost is modeled as half the
# part's retail price — the join/aggregate SHAPE is Q9's: line items x
# orders x parts x supplier-nation, grouped (nation, year)). Margin stays
# decimal-exact end to end.


def q_product_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    rev = dmul2(F.col("l_extendedprice"), F.lit(1.0) - F.col("l_discount"))
    # halving a double is exact (exponent decrement), so p_retailprice*0.5
    # is bit-identical on both engines BEFORE the decimal cast — keeping
    # the decimal arithmetic to one two-factor product per term
    cost = dmul2(F.col("l_quantity"), F.col("p_retailprice") * F.lit(0.5))
    margin = (rev - cost).cast("decimal(38,12)")
    out = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey, "inner")
        .join(o, l.l_orderkey == o.o_orderkey, "inner")
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey, "inner")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("sn_key"), "inner")
        .groupBy(
            "supp_nation", F.year("o_orderdate").cast("int").alias("order_year")
        )
        .agg(
            dsum_to_double(F.sum(margin)).alias("margin"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )
    return out


_ORACLE_PRODUCT_MARGIN = """
SELECT n_name AS supp_nation,
       CAST(year(o_orderdate) AS INTEGER) AS order_year,
       CAST(CAST(SUM(CAST(
         CAST(l_extendedprice AS DECIMAL(12,6)) * CAST(1.0 - l_discount AS DECIMAL(12,6))
         - CAST(l_quantity AS DECIMAL(12,6)) * CAST(p_retailprice * 0.5 AS DECIMAL(12,6))
       AS DECIMAL(38,12))) AS DECIMAL(20,6)) AS DOUBLE) AS margin,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_type = 'STANDARD'
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# TPC-H Q13 shape — customer order-count distribution: LEFT join customers
# to a filtered order class, count per customer (zeros kept — the LEFT
# join is the point), then histogram the counts. Two aggregations, both on
# narrow integer keys.


def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").select("c_custkey")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("order_count"))
    )
    return (
        per_cust.groupBy("order_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )


_ORACLE_CUSTOMER_ORDER_DIST = """
SELECT order_count, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS order_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY order_count
"""


# --------------------------------------------------------------------------
# TPC-H Q16 shape — supplier variety per part class: how many DISTINCT
# suppliers ship each (brand, type) of small parts, EXCLUDING a supplier
# blacklist (negative account balance stands in for Q16's complaint
# filter) via a broadcast anti-join. The part-supplier relation is
# lineitem (this schema has no partsupp).


def q_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = t(spark, sf_dir, "part").filter(F.col("p_size") <= 25).select(
        "p_partkey", "p_brand", "p_type"
    )
    bad = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("bad_suppkey")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey, "inner")
        .join(
            F.broadcast(bad),
            l.l_suppkey == bad.bad_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


_ORACLE_SUPPLIER_VARIETY = """
SELECT p_brand, p_type,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_size <= 25
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# TPC-H Q19 shape — disjunctive predicate revenue: OR-of-ANDs across
# (brand, size, quantity) branches, evaluated in the join condition's
# spirit but grouped BY BRANCH so each disjunct's contribution is visible
# (and the result is non-vacuous at smoke scale). The OR still pushes as
# one combined filter below the aggregation.


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    b1 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    )
    b2 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 30)
    )
    b3 = (
        (F.col("p_brand") == "Brand#4")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 40)
    )
    rev = dmul2(F.col("l_extendedprice"), F.lit(1.0) - F.col("l_discount")).cast(
        "decimal(38,12)"
    )
    branch = (
        F.when(b1, F.lit("b1")).when(b2, F.lit("b2")).when(b3, F.lit("b3"))
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey, "inner")
        .filter(b1 | b2 | b3)
        .groupBy(branch.alias("branch"))
        .agg(
            dsum_to_double(F.sum(rev)).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )


_ORACLE_DISJUNCTIVE = """
WITH matched AS (
  SELECT CASE
           WHEN p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20 THEN 'b1'
           WHEN p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30 THEN 'b2'
           WHEN p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40 THEN 'b3'
         END AS branch,
         CAST(CAST(l_extendedprice AS DECIMAL(12,6)) * CAST(1.0 - l_discount AS DECIMAL(12,6)) AS DECIMAL(38,12)) AS rev
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
)
SELECT branch,
       CAST(CAST(SUM(rev) AS DECIMAL(20,6)) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM matched
WHERE branch IS NOT NULL
GROUP BY 1
"""


# --------------------------------------------------------------------------
# TPC-H Q22 shape — idle rich customers: balance above the global average
# of positive balances (scalar subquery, computed ONCE and broadcast) and
# no high-value orders (anti-join). The average divides a decimal-exact
# sum by a count — identical doubles on both engines, so the threshold
# comparison is engine-portable.


def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    pos = c.filter(F.col("c_acctbal") > 0).agg(
        (
            dsum_to_double(F.sum(F.col("c_acctbal").cast("decimal(38,6)")))
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    big_orders = t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 450000
    ).select("o_custkey")
    return (
        c.crossJoin(F.broadcast(pos))  # 1-row scalar broadcast
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(big_orders, c.c_custkey == big_orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            dsum_to_double(
                F.sum(F.col("c_acctbal").cast("decimal(38,6)"))
            ).alias("total_balance"),
        )
    )


_ORACLE_IDLE_RICH = """
WITH avg_bal AS (
  SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DECIMAL(20,6)) AS DOUBLE)
         / COUNT(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DECIMAL(20,6)) AS DOUBLE) AS total_balance
FROM customer, avg_bal
WHERE c_acctbal > avg_bal
  AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)
GROUP BY 1
"""


# --------------------------------------------------------------------------
# TPC-H Q15 shape — top supplier by windowed revenue (CREATE VIEW revenue +
# MAX join). The per-supplier revenue aggregate shuffles once on suppkey;
# the scalar max broadcasts back (one row), and the supplier dim broadcasts
# — at 100 TB only the lineitem scan + one agg shuffle are data-sized.
# Revenue stays DECIMAL through the max-equality so the tie comparison is
# exact and engine-portable (float max equality would be order-dependent).


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem").filter(
        (F.year("l_shipdate") == 1995) & (F.month("l_shipdate") <= 3)
    )
    rev = dmul2(F.col("l_extendedprice"), F.lit(1.0) - F.col("l_discount")).cast(
        "decimal(38,12)"
    )
    per = l.groupBy("l_suppkey").agg(F.sum(rev).alias("rev_dec"))
    mx = per.agg(F.max("rev_dec").alias("mx"))
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per.join(F.broadcast(mx), per.rev_dec == mx.mx, "inner")
        .join(F.broadcast(s), per.l_suppkey == s.s_suppkey, "inner")
        .select(
            F.col("s_suppkey").cast("bigint").alias("suppkey"),
            "s_name",
            F.col("rev_dec").cast("decimal(20,6)").cast("double").alias(
                "total_revenue"
            ),
        )
    )


_ORACLE_TOP_SUPPLIER = """
WITH r AS (
  SELECT l_suppkey,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,6)) * CAST(1.0 - l_discount AS DECIMAL(12,6)) AS DECIMAL(38,12))) AS rev_dec
  FROM lineitem
  WHERE year(l_shipdate) = 1995 AND month(l_shipdate) <= 3
  GROUP BY l_suppkey
)
SELECT CAST(s_suppkey AS BIGINT) AS suppkey, s_name,
       CAST(CAST(rev_dec AS DECIMAL(20,6)) AS DOUBLE) AS total_revenue
FROM r JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_dec = (SELECT MAX(rev_dec) FROM r)
"""


# --------------------------------------------------------------------------
# TPC-H Q20 shape — suppliers with heavy availability of promo-candidate
# parts (the partsupp correlated-subquery decorrelated into a grouped
# semi-aggregate; the testdata has no partsupp, so shipped quantity stands
# in for availqty). Part filter broadcasts; one shuffle on (supp, part)
# with map-side partial sums; supplier dim broadcasts. Quantities are
# integer-valued doubles — cast BIGINT before summing so both engines
# aggregate exactly.


def q_part_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget"))
        .select("p_partkey")
    )
    l = t(spark, sf_dir, "lineitem").filter(F.year("l_shipdate") == 1995)
    qual = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey, "inner")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("qty"))
        .filter(F.col("qty") > 50)
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        qual.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_heavy_parts"),
            F.sum("qty").cast("bigint").alias("total_qty"),
        )
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey, "inner")
        .select("s_name", "n_heavy_parts", "total_qty")
    )


_ORACLE_PART_PROMO_SUPPLIERS = """
WITH qual AS (
  SELECT l_suppkey, l_partkey, SUM(CAST(l_quantity AS BIGINT)) AS qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%widget' AND year(l_shipdate) = 1995
  GROUP BY 1, 2
  HAVING SUM(CAST(l_quantity AS BIGINT)) > 50
)
SELECT s_name,
       CAST(COUNT(*) AS BIGINT) AS n_heavy_parts,
       CAST(SUM(qty) AS BIGINT) AS total_qty
FROM qual JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
"""


# --------------------------------------------------------------------------
# TPC-H Q21 shape — suppliers who kept finished orders waiting: the sole
# late supplier in a multi-supplier order. The classic form is a 4-way
# self-join with EXISTS/NOT EXISTS; decorrelated here into ONE grouped
# pass per order (countDistinct suppliers / late suppliers + the lone late
# suppkey via null-skipping MAX) — a single lineitem-orders shuffle join
# plus one agg shuffle, no self-joins. "Late" adapts to this schema as
# shipped > 60 days after order date (no l_commitdate/l_receiptdate).


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    l = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    j = l.join(o, l.l_orderkey == o.o_orderkey, "inner")
    late_supp = F.when(
        F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60),
        F.col("l_suppkey"),
    )
    # two COUNT(DISTINCT)s in one agg make Spark Expand every row 3× before
    # the exchange; the per-order supplier sets are basket-bounded, so
    # partial-aggregating collect_sets shuffle ONE compact set pair per
    # order instead (guide §2.3 — aggregate before you shuffle). size() /
    # array_max reproduce countDistinct (null-free sets) and max exactly.
    per_order = (
        j.groupBy("l_orderkey")
        .agg(
            F.collect_set("l_suppkey").alias("_ss"),
            F.collect_set(late_supp).alias("_ls"),
        )
        .select(
            "l_orderkey",
            F.size("_ss").cast("bigint").alias("n_supp"),
            F.size("_ls").cast("bigint").alias("n_late_supp"),
            F.array_max("_ls").alias("blamed"),
        )
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .join(F.broadcast(s), F.col("blamed") == s.s_suppkey, "inner")
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
    )


_ORACLE_WAITING_SUPPLIERS = """
WITH j AS (
  SELECT l_orderkey, l_suppkey,
         CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
              THEN l_suppkey END AS late_supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
), p AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT late_supp) AS n_late_supp,
         MAX(late_supp) AS blamed
  FROM j GROUP BY l_orderkey
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM p JOIN supplier ON blamed = s_suppkey
WHERE n_supp >= 2 AND n_late_supp = 1
GROUP BY s_name
"""


# --------------------------------------------------------------------------
# SQL SERVING SURFACE — the reference's actual consumption model: tables
# addressed BY NAME in a SQL catalog (Glue crawler → Athena database per
# layer, `stacks/cdk_datalake_analytics_stack.py:483-522`), not by path. This
# query is `regional_supplier_volume` re-expressed as pure spark.sql over
# catalog-registered names and hash-matched against the SAME oracle: it
# proves the serving path end-to-end (register → name-resolve → identical
# results). Registration is metadata-only (core/sql_serving.py).


def _serving_db(spark: SparkSession, sf_dir: str) -> str:
    """Register the testdata tables of ``sf_dir`` as external tables in a
    per-directory database; returns the database name. Idempotent and
    metadata-only — re-registration never touches data."""
    from ..core.sql_serving import register_sql_dir

    db = lake_db(sf_dir)
    register_sql_dir(spark, sf_dir, db)
    return db


def q_sql_regional_supplier_volume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    db = _serving_db(spark, sf_dir)
    return spark.sql(f"""
        SELECT n_name AS nation,
               CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,6))
                    * CAST(1.0 - l_discount AS DECIMAL(12,6))
                    AS DECIMAL(38,12))) AS DECIMAL(20,6)) AS DOUBLE)
                    AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM {db}.customer
        JOIN {db}.orders   ON c_custkey = o_custkey
        JOIN {db}.lineitem ON o_orderkey = l_orderkey
        JOIN {db}.supplier ON l_suppkey = s_suppkey
                          AND c_nationkey = s_nationkey
        JOIN {db}.nation   ON s_nationkey = n_nationkey
        JOIN {db}.region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA' AND year(o_orderdate) = 1996
        GROUP BY n_name
    """)


QUERIES = {
    "regional_supplier_volume": q_regional_supplier_volume,
    "sql_regional_supplier_volume": q_sql_regional_supplier_volume,
    "nation_market_share": q_nation_market_share,
    "product_margin": q_product_margin,
    "customer_order_distribution": q_customer_order_distribution,
    "supplier_part_variety": q_supplier_part_variety,
    "disjunctive_revenue": q_disjunctive_revenue,
    "idle_rich_customers": q_idle_rich_customers,
    "large_orders": q_large_orders,
    "shipping_priority": q_shipping_priority,
    "order_priority_late": q_order_priority_late,
    "nation_trade": q_nation_trade,
    "returned_customers": q_returned_customers,
    "promo_revenue_share": q_promo_revenue_share,
    "customer_rfm": q_customer_rfm,
    "cheapest_supplier": q_cheapest_supplier,
    "orders_abc_pareto": q_orders_abc_pareto,
    "part_affinity": q_part_affinity,
    "pricing_summary": q_pricing_summary,
    "sales_enrichment": q_sales_enrichment,
    "full_outer_coalesce": q_full_outer_coalesce,
    "left_anti": q_left_anti,
    "rolling_3m": q_rolling_3m,
    "rolling_3m_window": q_rolling_3m_window,
    "hierarchy_flatten": q_hierarchy_flatten,
    "latest_order_per_customer": q_latest_order_per_customer,
    "top1_join": q_top1_join,
    "nation_stats": q_nation_stats,
    "max_representative": q_max_representative,
    "monthly_share": q_monthly_share,
    "union_levels": q_union_levels,
    "predicate_filters": q_predicate_filters,
    "cast_projection": q_cast_projection,
    "magic_dates": q_magic_dates,
    "fn_transforms": q_fn_transforms,
    "brand_revenue": q_brand_revenue,
    "multikey_join": q_multikey_join,
    "rolling_12m_window": q_rolling_12m_window,
    "period_pruned_sales": q_period_pruned_sales,
    "salted_agg": q_salted_agg,
    "conditional_join": q_conditional_join,
    "fulfillment_ratio": q_fulfillment_ratio,
    "small_quantity_revenue": q_small_quantity_revenue,
    "sales_rollup": q_sales_rollup,
    "late_orders_exists": q_late_orders_exists,
    "latest_order_agg": q_latest_order_agg,
    "status_priority_pivot": q_status_priority_pivot,
    "measures_unpivot": q_measures_unpivot,
    "customer_value_deciles": q_customer_value_deciles,
    "cube_status_priority": q_cube_status_priority,
    "order_timeline": q_order_timeline,
    "monthly_gap_fill": q_monthly_gap_fill,
    "approx_distinct_kmv": q_approx_distinct_kmv,
    "approx_distinct_hll": q_approx_distinct_hll,
    "monthly_interpolate": q_monthly_interpolate,
    "top_supplier": q_top_supplier,
    "part_promo_suppliers": q_part_promo_suppliers,
    "waiting_suppliers": q_waiting_suppliers,
}

ORACLES = {
    "regional_supplier_volume": _ORACLE_REGIONAL_VOLUME,
    "sql_regional_supplier_volume": _ORACLE_REGIONAL_VOLUME,
    "large_orders": _ORACLE_LARGE_ORDERS,
    "shipping_priority": _ORACLE_SHIPPING_PRIORITY,
    "order_priority_late": _ORACLE_ORDER_PRIORITY_LATE,
    "nation_trade": _ORACLE_NATION_TRADE,
    "nation_market_share": _ORACLE_MARKET_SHARE,
    "product_margin": _ORACLE_PRODUCT_MARGIN,
    "customer_order_distribution": _ORACLE_CUSTOMER_ORDER_DIST,
    "supplier_part_variety": _ORACLE_SUPPLIER_VARIETY,
    "disjunctive_revenue": _ORACLE_DISJUNCTIVE,
    "idle_rich_customers": _ORACLE_IDLE_RICH,
    "returned_customers": _ORACLE_RETURNED_CUSTOMERS,
    "promo_revenue_share": _ORACLE_PROMO_SHARE,
    "customer_rfm": _ORACLE_CUSTOMER_RFM,
    "cheapest_supplier": _ORACLE_CHEAPEST_SUPPLIER,
    "orders_abc_pareto": _ORACLE_ABC_PARETO,
    "part_affinity": _ORACLE_PART_AFFINITY,
    "pricing_summary": _ORACLE_PRICING,
    "sales_enrichment": _ORACLE_ENRICH,
    "full_outer_coalesce": _ORACLE_FULL_OUTER,
    "left_anti": _ORACLE_LEFT_ANTI,
    "rolling_3m": _ORACLE_ROLLING_3M,
    "rolling_3m_window": _ORACLE_ROLLING_3M,
    "hierarchy_flatten": _ORACLE_HIERARCHY,
    "latest_order_per_customer": _ORACLE_LATEST_ORDER,
    "top1_join": _ORACLE_TOP1_JOIN,
    "nation_stats": _ORACLE_NATION_STATS,
    "max_representative": _ORACLE_MAX_REPR,
    "monthly_share": _ORACLE_MONTHLY_SHARE,
    "union_levels": _ORACLE_UNION_LEVELS,
    "predicate_filters": _ORACLE_PREDICATES,
    "cast_projection": _ORACLE_CAST_PROJ,
    "magic_dates": _ORACLE_MAGIC_DATES,
    "fn_transforms": _ORACLE_FN_TRANSFORMS,
    "brand_revenue": _ORACLE_BRAND_REVENUE,
    "multikey_join": _ORACLE_MULTIKEY,
    "rolling_12m_window": _ORACLE_ROLLING_12M,
    "period_pruned_sales": _ORACLE_PERIOD_PRUNED,
    "salted_agg": _ORACLE_SALTED_AGG,
    "conditional_join": _ORACLE_CONDITIONAL_JOIN,
    "fulfillment_ratio": _ORACLE_FULFILLMENT,
    "small_quantity_revenue": _ORACLE_SMALL_QTY_REVENUE,
    "sales_rollup": _ORACLE_SALES_ROLLUP,
    "late_orders_exists": _ORACLE_LATE_ORDERS,
    "latest_order_agg": _ORACLE_LATEST_ORDER,
    "status_priority_pivot": _ORACLE_STATUS_PIVOT,
    "measures_unpivot": _ORACLE_MEASURES_UNPIVOT,
    "customer_value_deciles": _ORACLE_VALUE_DECILES,
    "cube_status_priority": _ORACLE_CUBE,
    "order_timeline": _ORACLE_TIMELINE,
    "monthly_gap_fill": _ORACLE_GAP_FILL,
    "approx_distinct_kmv": _ORACLE_KMV,
    "approx_distinct_hll": _ORACLE_HLL,
    "monthly_interpolate": _ORACLE_INTERPOLATE,
    "top_supplier": _ORACLE_TOP_SUPPLIER,
    "part_promo_suppliers": _ORACLE_PART_PROMO_SUPPLIERS,
    "waiting_suppliers": _ORACLE_WAITING_SUPPLIERS,
}
