"""Query registry: every SURVEY §2 operator exercised as a (Spark, oracle
SQL) pair, consumed by __spark_entry__.py.

Conventions keeping the hash-compare stable across engines:
- Money aggregates go through DECIMAL internally (exact, associativity-free)
  and are cast to DOUBLE at the end -> bit-identical on both engines.
- Ratios/means are ROUND()ed to 4-6 decimals on both sides.
- Every computed column is aliased identically in Spark and SQL.
- double->int casts in oracle SQL use CAST(TRUNC(..)) (DuckDB CAST rounds,
  Spark truncates).
"""

from __future__ import annotations

from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

import tabsdata_spark as td
from tabsdata_spark.scale import fan_out
from tabsdata_spark.tableframe import selectors as cs
from tabsdata_spark.llm import dedup, similarity, textual

Query = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, Query] = {}
_ORACLES: dict[str, str] = {}


def q(name: str, sql: str | None = None):
    def deco(fn: Query) -> Query:
        _QUERIES[name] = fn
        if sql is not None:
            _ORACLES[name] = sql
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, name: str) -> td.TableFrame:
    return td.TableFrame.from_spark(spark.read.parquet(f"{sf_dir}/{name}.parquet"))


def _dec(e: td.Expr) -> td.Expr:
    return e.cast("decimal(18,2)")


def _cust_supp_edges(o: DataFrame, li: DataFrame,
                     src: str, dst: str) -> DataFrame:
    """Distinct customer->supplier trade edges with NUMERIC node ids:
    custkey*2 (even) / suppkey*2+1 (odd) — bijective longs, so every
    per-round graph join/agg/distinct shuffles and compares 8-byte longs
    instead of 'c…'/'s…' strings (guide §2.3 narrower types).  Rank /
    degree arithmetic depends only on graph structure, so values are
    identical; `_unmap_graph_nodes` restores the string form on the
    final |V|-sized result only.

    NOT pre-distincted: every graph operator dedups its own undirected
    edge set (pagerank_exact/ppr_exact und, kcore_peel und, hits_exact
    e), so an upstream distinct is a redundant full exchange of the
    pair stream (guide §2.4 remove shuffles outright) — the operators'
    results are identical with or without it."""
    return (o.join(li, o["o_orderkey"] == li["l_orderkey"])
            .select((F.col("o_custkey").cast("long") * 2).alias(src),
                    (F.col("l_suppkey").cast("long") * 2 + 1).alias(dst)))


def _unmap_graph_nodes(out: DataFrame) -> DataFrame:
    """Decode `_cust_supp_edges` numeric node ids back to 'c…'/'s…' on a
    result frame's `node` column.  Integer `div` keeps the unmap exact
    for ALL long ids (float division is only exact below 2^53)."""
    dec = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("c"), F.expr("node div 2").cast("string"))
    ).otherwise(
        F.concat(F.lit("s"), F.expr("(node - 1) div 2").cast("string")))
    return out.select(dec.alias("node"),
                      *[c for c in out.columns if c != "node"])


def load_events(spark: SparkSession, sf_dir: str) -> td.TableFrame:
    """events.parquet carries TIMESTAMP(NANOS); with nanosAsLong the ts
    column arrives as nanos-long -> convert to a micros timestamp.

    The conf is set on the *passed-in* session (runtime-settable) so the
    read works on a vanilla Spark 4 session, not just get_spark()'s —
    without it the scan dies with PARQUET_TYPE_ILLEGAL before any operator
    runs."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # legacy conf honored (session built with it): nanos-long -> micros
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Spark 4.1 vanilla sessions read TIMESTAMP(NANOS) natively as NTZ
        # (runtime nanosAsLong is ignored); normalize to TIMESTAMP so every
        # downstream expr (unix_micros, window ranges, date math) sees ONE
        # type on any session flavor.  Session TZ is UTC in both harnesses,
        # so the NTZ->LTZ reinterpretation is value-identity.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return td.TableFrame.from_spark(df)


# ===========================================================================
# TPC-H-shaped relational queries
# ===========================================================================
@q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: the single-row-group test file serializes the 8-decimal-sum
    # partial aggregation on one core (guide §2.5 unsplittable input); with
    # >=cores input files (any real table) this is a no-op.  Decimal sums
    # are partitioning-independent, so results are bit-identical.
    li = td.TableFrame.from_spark(fan_out(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")))
    ep, disc, tax, qty = (td.col(c) for c in
                          ("l_extendedprice", "l_discount", "l_tax", "l_quantity"))
    out = (
        li.filter(td.col("l_shipdate") <= td.lit("1998-09-02").cast("timestamp"))
        .group_by("l_returnflag", "l_linestatus")
        .agg(
            sum_qty=_dec(qty).sum().cast("double"),
            sum_base_price=_dec(ep).sum().cast("double"),
            sum_disc_price=(_dec(ep) * (1 - _dec(disc))).sum().cast("double"),
            sum_charge=(_dec(ep) * (1 - _dec(disc)) * (1 + _dec(tax))).sum().cast("double"),
            avg_qty=(_dec(qty).sum().cast("double") / qty.len()).round(6),
            avg_price=(_dec(ep).sum().cast("double") / qty.len()).round(6),
            avg_disc=(_dec(disc).sum().cast("double") / qty.len()).round(6),
            count_order=qty.len(),
        )
        .sort(["l_returnflag", "l_linestatus"])
    )
    return out.df


@q(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey AS l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           o.o_orderdate AS o_orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-03-15'
      AND l.l_shipdate > TIMESTAMP '1997-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load(spark, sf_dir, "customer").filter(td.col("c_mktsegment") == "BUILDING")
    od = load(spark, sf_dir, "orders").filter(
        td.col("o_orderdate") < td.lit("1997-03-15").cast("timestamp"))
    li = load(spark, sf_dir, "lineitem").filter(
        td.col("l_shipdate") > td.lit("1997-03-15").cast("timestamp"))
    out = (
        cu.join(od, left_on="c_custkey", right_on="o_custkey")
        .join(li, left_on="o_orderkey", right_on="l_orderkey")
        .group_by("l_orderkey", "o_orderdate")
        .agg(revenue=(_dec(td.col("l_extendedprice")) * (1 - _dec(td.col("l_discount"))))
             .sum().cast("double"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .sort(["revenue", "l_orderkey"], descending=[True, False])
        .limit(10)
    )
    return out.df


@q(
    "q5_local_supplier",
    """
    SELECT n.n_name AS n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
         JOIN customer c ON c.c_nationkey = n.n_nationkey
         JOIN orders o ON o.o_custkey = c.c_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    rg = load(spark, sf_dir, "region").filter(td.col("r_name") == "ASIA")
    na = load(spark, sf_dir, "nation")
    cu = load(spark, sf_dir, "customer")
    od = load(spark, sf_dir, "orders").filter(
        (td.col("o_orderdate") >= td.lit("1996-01-01").cast("timestamp"))
        & (td.col("o_orderdate") < td.lit("1997-01-01").cast("timestamp")))
    li = load(spark, sf_dir, "lineitem")
    su = load(spark, sf_dir, "supplier")
    joined = (
        rg.join(na, left_on="r_regionkey", right_on="n_regionkey")
        .join(cu, left_on="n_nationkey", right_on="c_nationkey")
        .join(od, left_on="c_custkey", right_on="o_custkey")
        .join(li, left_on="o_orderkey", right_on="l_orderkey")
        .join(su, left_on="l_suppkey", right_on="s_suppkey")
        .filter(td.col("s_nationkey") == td.col("n_nationkey"))
    )
    out = (
        joined.group_by("n_name")
        .agg(revenue=(_dec(td.col("l_extendedprice")) * (1 - _dec(td.col("l_discount"))))
             .sum().cast("double"))
        .sort(["revenue", "n_name"], descending=[True, False])
    )
    return out.df


@q(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    out = (
        li.filter(
            td.col("l_shipdate").is_between(
                td.lit("1996-01-01").cast("timestamp"),
                td.lit("1997-01-01").cast("timestamp"), closed="left"),
            td.col("l_discount").is_between(0.03, 0.07),
            td.col("l_quantity") < 24,
        )
        .group_by()
        .agg(
            revenue=(_dec(td.col("l_extendedprice")) * _dec(td.col("l_discount")))
            .sum().cast("double"),
            n_items=td.col("l_quantity").len(),
        )
    )
    return out.df


@q(
    "q10_returned_items",
    """
    SELECT c.c_custkey AS c_custkey, c.c_name AS c_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           ROUND(c.c_acctbal, 2) AS c_acctbal, n.n_name AS n_name
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load(spark, sf_dir, "customer")
    od = load(spark, sf_dir, "orders").filter(
        (td.col("o_orderdate") >= td.lit("1996-10-01").cast("timestamp"))
        & (td.col("o_orderdate") < td.lit("1997-01-01").cast("timestamp")))
    li = load(spark, sf_dir, "lineitem").filter(td.col("l_returnflag") == "R")
    na = load(spark, sf_dir, "nation")
    out = (
        cu.join(od, left_on="c_custkey", right_on="o_custkey")
        .join(li, left_on="o_orderkey", right_on="l_orderkey")
        .join(na, left_on="c_nationkey", right_on="n_nationkey")
        .group_by("c_custkey", "c_name",
                  td.col("c_acctbal").round(2).alias("c_acctbal"), "n_name")
        .agg(revenue=(_dec(td.col("l_extendedprice")) * (1 - _dec(td.col("l_discount"))))
             .sum().cast("double"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .sort(["revenue", "c_custkey"], descending=[True, False])
        .limit(20)
    )
    return out.df


@q(
    "segment_revenue",
    """
    SELECT c.c_mktsegment AS c_mktsegment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment ORDER BY revenue DESC
    """,
)
def segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load(spark, sf_dir, "customer")
    od = load(spark, sf_dir, "orders")
    out = (
        cu.join(od, left_on="c_custkey", right_on="o_custkey")
        .group_by("c_mktsegment")
        .agg(n_orders=td.col("o_orderkey").len(),
             revenue=_dec(td.col("o_totalprice")).sum().cast("double"))
        .sort("revenue", descending=True)
    )
    return out.df


# ===========================================================================
# join strategies
# ===========================================================================
@q(
    "join_inner",
    """
    SELECT n.n_name AS n_name, r.r_name AS r_name
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    na = load(spark, sf_dir, "nation")
    rg = load(spark, sf_dir, "region")
    return (na.join(rg, left_on="n_regionkey", right_on="r_regionkey")
            .select("n_name", "r_name").df)


@q(
    "join_left",
    """
    SELECT o.o_orderkey AS o_orderkey, o.o_totalprice AS o_totalprice,
           c.c_name AS c_name
    FROM orders o LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 9000) c
      ON o.o_custkey = c.c_custkey
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load(spark, sf_dir, "orders")
    rich = load(spark, sf_dir, "customer").filter(td.col("c_acctbal") > 9000)
    return (od.join(rich, left_on="o_custkey", right_on="c_custkey", how="left")
            .select("o_orderkey", "o_totalprice", "c_name").df)


@q(
    "join_right",
    """
    SELECT o.o_orderkey AS o_orderkey, c.c_custkey AS c_custkey, c.c_name AS c_name
    FROM (SELECT * FROM orders WHERE o_totalprice > 400000) o
         RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = load(spark, sf_dir, "orders").filter(td.col("o_totalprice") > 400000)
    cu = load(spark, sf_dir, "customer")
    return (big.join(cu, left_on="o_custkey", right_on="c_custkey", how="right")
            .select("o_orderkey", "c_custkey", "c_name").df)


@q(
    "join_full",
    """
    SELECT a.o_orderkey AS big_key, b.o_orderkey AS cheap_key
    FROM (SELECT * FROM orders WHERE o_totalprice > 400000) a
         FULL JOIN (SELECT * FROM orders WHERE o_totalprice < 1000) b
      ON a.o_custkey = b.o_custkey
    """,
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = (load(spark, sf_dir, "orders").filter(td.col("o_totalprice") > 400000)
           .rename({"o_orderkey": "big_key"}))
    cheap = (load(spark, sf_dir, "orders").filter(td.col("o_totalprice") < 1000)
             .rename({"o_orderkey": "cheap_key"}))
    return (big.join(cheap, left_on="o_custkey", right_on="o_custkey", how="full")
            .select("big_key", "cheap_key").df)


@q(
    "join_semi",
    """
    SELECT c_custkey, c_name, c_acctbal FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").filter(td.col("o_totalprice") > 400000)
    return (cu.join(big, left_on="c_custkey", right_on="o_custkey", how="semi")
            .select("c_custkey", "c_name", "c_acctbal").df)


@q(
    "join_anti",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load(spark, sf_dir, "customer")
    od = load(spark, sf_dir, "orders")
    return (cu.join(od, left_on="c_custkey", right_on="o_custkey", how="anti")
            .select("c_custkey", "c_name").df)


@q(
    "join_cross",
    """
    SELECT a.r_name AS r1, b.r_name AS r2 FROM region a CROSS JOIN region b
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = load(spark, sf_dir, "region").rename({"r_name": "r1"})
    b = load(spark, sf_dir, "region").rename({"r_name": "r2"})
    return a.join(b, how="cross").select("r1", "r2").df


# ===========================================================================
# aggregation / expression coverage
# ===========================================================================
@q(
    "agg_stats",
    """
    SELECT l_returnflag,
           CAST(TRUNC(MIN(l_quantity)) AS BIGINT) AS min_qty,
           CAST(TRUNC(MAX(l_quantity)) AS BIGINT) AS max_qty,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity), 6) AS mean_qty,
           COUNT(DISTINCT l_quantity) AS uniq_qty,
           COUNT(l_quantity) AS cnt,
           COUNT(*) AS n_rows,
           CAST(MIN(l_shipdate) AS TIMESTAMP) AS first_ship,
           CAST(MAX(l_shipdate) AS TIMESTAMP) AS last_ship
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    qty = td.col("l_quantity")
    out = (
        li.group_by("l_returnflag")
        .agg(
            min_qty=qty.min().cast("long"),
            max_qty=qty.max().cast("long"),
            mean_qty=(_dec(qty).sum().cast("double") / qty.count()).round(6),
            uniq_qty=td.col("l_quantity").n_unique(),
            cnt=qty.count(),
            n_rows=qty.len(),
            first_ship=td.col("l_shipdate").min(),
            last_ship=td.col("l_shipdate").max(),
        )
        .sort("l_returnflag")
    )
    return out.df


@q(
    "expr_math",
    """
    SELECT p_partkey,
           ROUND(sqrt(p_retailprice), 6) AS sqrt_price,
           ROUND(ln(p_retailprice), 6) AS ln_price,
           ROUND(log10(p_retailprice), 6) AS log10_price,
           ABS(p_size - 25) AS abs_size,
           CAST(SIGN(p_size - 25) AS DOUBLE) AS sign_size,
           CAST(FLOOR(p_retailprice) AS BIGINT) AS floor_price,
           CAST(CEIL(p_retailprice) AS BIGINT) AS ceil_price,
           ROUND(p_retailprice, 1) AS round_price,
           LEAST(GREATEST(p_size, 10), 40) AS clip_size,
           ROUND(POW(p_size, 2), 6) AS size_sq,
           ROUND(exp(p_size / 50.0), 6) AS exp_size,
           ROUND(sin(p_size), 6) AS sin_size,
           ROUND(degrees(atan(p_size / 10.0)), 6) AS deg_atan
    FROM part
    """,
)
def expr_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    pt = load(spark, sf_dir, "part")
    price, size = td.col("p_retailprice"), td.col("p_size")
    out = pt.select(
        "p_partkey",
        sqrt_price=price.sqrt().round(6),
        ln_price=price.log().round(6),
        log10_price=price.log10().round(6),
        abs_size=(size - 25).abs(),
        sign_size=(size - 25).sign(),
        floor_price=price.floor().cast("long"),
        ceil_price=price.ceil().cast("long"),
        round_price=price.round(1),
        clip_size=size.clip(10, 40),
        size_sq=size.pow(2).round(6),
        exp_size=(size / 50.0).exp().round(6),
        sin_size=size.sin().round(6),
        deg_atan=(size / 10.0).arctan().degrees().round(6),
    )
    return out.df


@q(
    "expr_predicates",
    """
    SELECT o_orderkey,
           o_totalprice BETWEEN 100000 AND 200000 AS in_band,
           o_orderpriority IN ('1-URGENT', '2-HIGH') AS is_hot,
           o_orderstatus = 'F' AS is_f,
           NOT (o_orderstatus = 'F') AS not_f,
           (o_totalprice > 300000) AND (o_orderstatus = 'O') AS big_open,
           (o_totalprice < 1000) OR (o_totalprice > 500000) AS extreme
    FROM orders
    """,
)
def expr_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load(spark, sf_dir, "orders")
    price, prio, status = td.col("o_totalprice"), td.col("o_orderpriority"), td.col("o_orderstatus")
    out = od.select(
        "o_orderkey",
        in_band=price.is_between(100000, 200000),
        is_hot=prio.is_in(["1-URGENT", "2-HIGH"]),
        is_f=status.eq("F"),
        not_f=status.eq("F").not_(),
        big_open=(price > 300000).and_(status == "O"),
        extreme=(price < 1000).or_(price > 500000),
    )
    return out.df


@q(
    "string_funcs",
    """
    SELECT p_partkey,
           upper(p_name) AS up_name,
           lower(p_brand) AS low_brand,
           strlen(p_name) AS name_bytes,
           length(p_name) AS name_chars,
           left(p_name, 5) AS head5,
           right(p_name, 3) AS tail3,
           reverse(p_type) AS rev_type,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded_size,
           replace(p_type, ' ', '_') AS type_snake,
           contains(p_name, 'green') AS has_green,
           starts_with(p_type, 'STANDARD') AS std,
           ends_with(p_brand, '3') AS b3,
           substr(p_name, 3, 8) AS mid,
           trim(concat('  ', p_brand, ' ')) AS trimmed
    FROM part
    """,
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pt = load(spark, sf_dir, "part")
    name, brand, ptype = td.col("p_name"), td.col("p_brand"), td.col("p_type")
    out = pt.select(
        "p_partkey",
        up_name=name.str.to_uppercase(),
        low_brand=brand.str.to_lowercase(),
        name_bytes=name.str.len_bytes().cast("long"),
        name_chars=name.str.len_chars().cast("long"),
        head5=name.str.head(5),
        tail3=name.str.tail(3),
        rev_type=ptype.str.reverse(),
        padded_size=td.col("p_size").cast("string").str.pad_start(4, "0"),
        type_snake=ptype.str.replace_all(" ", "_", literal=True),
        has_green=name.str.contains("green", literal=True),
        std=ptype.str.starts_with("STANDARD"),
        b3=brand.str.ends_with("3"),
        mid=name.str.slice(2, 8),
        trimmed=td.Expr(F.concat(F.lit("  "), brand.spark, F.lit(" "))).str.strip_chars(),
    )
    return out.df


@q(
    "string_regex",
    """
    SELECT p_partkey,
           CAST(regexp_extract(p_brand, 'Brand#([0-9]+)', 1) AS BIGINT) AS brand_num,
           len(regexp_extract_all(p_name, '[aeiou]')) AS vowels,
           regexp_replace(p_name, '\\s+', '-', 'g') AS dashed,
           CASE WHEN regexp_matches(p_type, '^PROMO ([A-Z]+)') THEN regexp_extract(p_type, '^PROMO ([A-Z]+)', 1) END AS promo_kind
    FROM part
    """,
)
def string_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    pt = load(spark, sf_dir, "part")
    out = pt.select(
        "p_partkey",
        brand_num=td.col("p_brand").str.extract(r"Brand#([0-9]+)", 1).cast("long"),
        vowels=td.col("p_name").str.count_matches("[aeiou]").cast("long"),
        dashed=td.col("p_name").str.replace_all(r"\s+", "-"),
        promo_kind=td.col("p_type").str.extract(r"^PROMO ([A-Z]+)", 1),
    )
    return out.df


@q(
    "datetime_funcs",
    """
    SELECT o_orderkey,
           year(o_orderdate) AS yr,
           quarter(o_orderdate) AS qtr,
           month(o_orderdate) AS mth,
           day(o_orderdate) AS dom,
           dayofyear(o_orderdate) AS doy,
           weekofyear(o_orderdate) AS wk,
           isodow(o_orderdate) AS dow,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
           strftime(o_orderdate, '%Y-%m-%d') AS iso_day,
           date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since
    FROM orders
    """,
)
def datetime_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load(spark, sf_dir, "orders")
    d = td.col("o_orderdate")
    out = od.select(
        "o_orderkey",
        yr=d.dt.year().cast("long"),
        qtr=d.dt.quarter().cast("long"),
        mth=d.dt.month().cast("long"),
        dom=d.dt.day().cast("long"),
        doy=d.dt.ordinal_day().cast("long"),
        wk=d.dt.week().cast("long"),
        dow=d.dt.weekday().cast("long"),
        month_start=d.dt.month_start().cast("date"),
        month_end=d.dt.month_end(),
        epoch_s=d.dt.epoch("s"),
        iso_day=d.dt.to_string("%Y-%m-%d"),
        days_since=td.Expr(F.datediff(d.spark.cast("date"), F.lit("1995-01-01").cast("date"))).cast("long"),
    )
    return out.df


@q(
    "cast_ops",
    """
    SELECT l_orderkey,
           CAST(TRUNC(l_quantity) AS INT) AS qty_int,
           CAST(l_linenumber AS VARCHAR) AS line_str,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price_dec,
           TRY_CAST(l_returnflag AS BIGINT) AS bad_cast,
           CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_str
    FROM lineitem
    """,
)
def cast_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    out = li.select(
        "l_orderkey",
        qty_int=td.col("l_quantity").cast("int"),
        line_str=td.col("l_linenumber").cast("string"),
        # strict decimal cast still exercised, then re-cast to double: a
        # double is never an exact tie at 2dp ((2n+1)/200 has no finite
        # binary form), so both engines round identically — and the double
        # surface type hashes identically, where DECIMAL(12,2) is
        # normalizer-fragile (r2 driver hash_match=false with rows+schema
        # green).
        price_dec=td.col("l_extendedprice").cast("decimal(12,2)", strict=True).cast("double"),
        bad_cast=td.col("l_returnflag").cast("long"),
        ship_str=td.col("l_shipdate").cast("date").cast("string"),
    )
    return out.df


@q(
    "null_handling",
    """
    WITH t AS (
      SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg,
             CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
      FROM customer)
    SELECT c_custkey, COALESCE(seg, 'UNKNOWN') AS seg_filled,
           ROUND(COALESCE(bal, 0.0), 2) AS bal_filled,
           seg IS NULL AS seg_was_null,
           bal IS NOT NULL AS bal_ok
    FROM t
    """,
)
def null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load(spark, sf_dir, "customer")
    seg = td.when(td.col("c_mktsegment") == "BUILDING").then(None).otherwise(td.col("c_mktsegment"))
    bal = td.when(td.col("c_acctbal") < 0).then(None).otherwise(td.col("c_acctbal"))
    out = (
        cu.with_columns(seg=seg, bal=bal)
        .select(
            "c_custkey",
            seg_filled=td.col("seg").fill_null("UNKNOWN"),
            bal_filled=td.col("bal").fill_null(0.0).round(2),
            seg_was_null=td.col("seg").is_null(),
            bal_ok=td.col("bal").is_not_null(),
        )
    )
    return out.df


@q(
    "drop_nulls_q",
    """
    WITH t AS (SELECT o_orderkey,
                      CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END AS price
               FROM orders)
    SELECT o_orderkey, price FROM t WHERE price IS NOT NULL
    """,
)
def drop_nulls_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load(spark, sf_dir, "orders")
    price = td.when(td.col("o_orderstatus") == "P").then(None).otherwise(td.col("o_totalprice"))
    return (od.with_columns(price=price).select("o_orderkey", "price")
            .drop_nulls("price").df)


@q(
    "when_then",
    """
    SELECT CASE WHEN o_totalprice > 300000 THEN 'big'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'small' END AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY bucket ORDER BY bucket
    """,
)
def when_then(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load(spark, sf_dir, "orders")
    bucket = (td.when(td.col("o_totalprice") > 300000).then("big")
              .when(td.col("o_totalprice") > 100000).then("mid").otherwise("small"))
    out = (
        od.with_columns(bucket=bucket)
        .group_by("bucket")
        .agg(n=td.col("o_orderkey").len(),
             total=_dec(td.col("o_totalprice")).sum().cast("double"))
        .sort("bucket")
    )
    return out.df


@q(
    "concat_vertical",
    """
    SELECT l_returnflag, COUNT(*) AS n FROM (
      SELECT l_returnflag FROM lineitem WHERE l_quantity < 5
      UNION ALL
      SELECT l_returnflag FROM lineitem WHERE l_quantity > 45
    ) GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def concat_vertical(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    lo = li.filter(td.col("l_quantity") < 5).select("l_returnflag")
    hi = li.filter(td.col("l_quantity") > 45).select("l_returnflag")
    out = (td.concat([lo, hi], how="vertical")
           .group_by("l_returnflag").agg(n=td.col("l_returnflag").len())
           .sort("l_returnflag"))
    return out.df


@q(
    "concat_diagonal",
    """
    SELECT k, a, b FROM (
      SELECT r_regionkey AS k, r_name AS a, NULL AS b FROM region
      UNION ALL
      SELECT n_nationkey AS k, NULL AS a, n_name AS b FROM nation
    )
    """,
)
def concat_diagonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    rg = load(spark, sf_dir, "region").select(k="r_regionkey", a="r_name")
    na = load(spark, sf_dir, "nation").select(k="n_nationkey", b="n_name")
    return td.concat([rg, na], how="diagonal").select("k", "a", "b").df


@q(
    "unique_rows",
    """
    SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """,
)
def unique_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").unique().df


@q(
    "sort_slice",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 5 OFFSET 10
    """,
)
def sort_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load(spark, sf_dir, "orders")
    return (od.select("o_orderkey", "o_totalprice")
            .sort(["o_totalprice", "o_orderkey"], descending=[True, False])
            .slice(10, 5).df)


@q(
    "head_tail",
    """
    SELECT o_orderkey, o_totalprice FROM (
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 5)
    UNION ALL
    SELECT o_orderkey, o_totalprice FROM (
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice ASC, o_orderkey DESC LIMIT 5)
    """,
)
def head_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = (load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
          .sort(["o_totalprice", "o_orderkey"], descending=[True, False]))
    return td.concat([od.head(5), od.tail(5)], how="vertical").df


@q(
    "rank_window",
    """
    SELECT o_orderkey, o_totalprice,
           rank() OVER (ORDER BY o_totalprice DESC) AS price_rank,
           dense_rank() OVER (ORDER BY o_orderpriority) AS prio_dense
    FROM orders QUALIFY price_rank <= 50
    """,
)
def rank_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load(spark, sf_dir, "orders")
    out = (
        od.with_columns(
            price_rank=td.col("o_totalprice").rank(method="min", descending=True).cast("long"),
            prio_dense=td.col("o_orderpriority").rank(method="dense").cast("long"),
        )
        .filter(td.col("price_rank") <= 50)
        .select("o_orderkey", "o_totalprice", "price_rank", "prio_dense")
    )
    return out.df


@q(
    "diff_lag",
    """
    SELECT event_id,
           ROUND(value - lag(value) OVER (ORDER BY CAST(ts AS TIMESTAMP), event_id), 6) AS dv
    FROM events WHERE user_id < 5
    """,
)
def diff_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).filter(td.col("user_id") < 5)
    out = ev.select(
        "event_id",
        dv=td.col("value").diff(order_by=["ts", "event_id"]).round(6),
    )
    return out.df


@q(
    "is_unique_flag",
    """
    SELECT c_custkey, COUNT(*) OVER (PARTITION BY c_acctbal) = 1 AS bal_unique
    FROM customer
    """,
)
def is_unique_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load(spark, sf_dir, "customer")
    return cu.select("c_custkey", bal_unique=td.col("c_acctbal").is_unique()).df


@q(
    "dq_checks",
    """
    SELECT c_custkey,
           c_acctbal > 0 AS c_acctbal_is_positive_dq,
           c_acctbal >= -500 AND c_acctbal <= 5000 AS c_acctbal_is_between_dq,
           c_mktsegment IN ('BUILDING','MACHINERY') AS c_mktsegment_is_in_dq,
           c_name IS NOT NULL AS c_name_is_not_null_dq
    FROM customer
    """,
)
def dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load(spark, sf_dir, "customer")
    out = (
        cu.dq.is_positive("c_acctbal")
        .dq.is_between("c_acctbal", -500, 5000)
        .dq.is_in("c_mktsegment", ["BUILDING", "MACHINERY"])
        .dq.is_not_null("c_name")
        .select("c_custkey", "c_acctbal_is_positive_dq", "c_acctbal_is_between_dq",
                "c_mktsegment_is_in_dq", "c_name_is_not_null_dq")
    )
    return out.df


@q(
    "udf_charge",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
    FROM lineitem
    """,
)
def udf_charge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")

    class Charge(td.UDF):
        output_columns = [("charge", "float64")]

        def on_batch(self, ep, disc, tax):
            return [ep * (1 - disc) * (1 + tax)]

    out = (
        li.udf(["l_extendedprice", "l_discount", "l_tax"], Charge())
        .select("l_orderkey", "l_linenumber", "charge")
    )
    return out.df


@q(
    "grok_extract",
    """
    SELECT event_id,
           CAST(regexp_extract(props, '"k": ([+-]?[0-9]+)', 1) AS BIGINT) AS k
    FROM events
    """,
)
def grok_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    return (ev.grok("props", '"k": %{INT:k:int}')
            .select("event_id", "k").df)


@q(
    "json_extract",
    """
    SELECT event_id, CAST(props->>'k' AS BIGINT) AS k_val, event_type
    FROM events WHERE CAST(props->>'k' AS BIGINT) > 50
    """,
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    k = td.Expr(F.get_json_object(F.col("props"), "$.k")).cast("long")
    return (ev.with_columns(k_val=k).filter(td.col("k_val") > 50)
            .select("event_id", "k_val", "event_type").df)


@q(
    "selectors_numeric",
    """
    SELECT CAST(SUM(CAST(p_size AS DECIMAL(18,2))) AS DOUBLE) AS p_size,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS p_retailprice,
           CAST(SUM(CAST(p_partkey AS DECIMAL(18,2))) AS DOUBLE) AS p_partkey
    FROM part
    """,
)
def selectors_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    pt = load(spark, sf_dir, "part")
    num_cols = cs.numeric()._resolve(pt.schema)
    out = pt.group_by().agg(
        **{c: _dec(td.col(c)).sum().cast("double") for c in num_cols}
    )
    return out.select("p_size", "p_retailprice", "p_partkey").df


@q(
    "events_hourly",
    """
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY hour, event_type
    """,
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    out = (
        ev.with_columns(hour=td.col("ts").dt.truncate("1h"))
        .group_by("hour", "event_type")
        .agg(n=td.col("event_id").len(),
             total_value=_dec(td.col("value")).sum().cast("double"))
    )
    return out.df


# ===========================================================================
# LLM-pipeline queries (documents / embeddings)
# ===========================================================================
@q(
    "text_tokens",
    """
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
           length(text) AS n_chars_actual
    FROM documents
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        textual.token_count(F.col("text")).cast("long").alias("n_tokens"),
        textual.char_count(F.col("text")).cast("long").alias("n_chars_actual"),
    )


@q(
    "text_quality",
    """
    SELECT doc_id,
           ROUND(CASE WHEN length(text) > 0
                 THEN len(regexp_extract_all(text, '[.,!?;:]')) / CAST(length(text) AS DOUBLE)
                 ELSE 0.0 END, 6) AS punct_ratio,
           ROUND(CASE WHEN len(regexp_split_to_array(trim(lower(text)), '\\s+')) > 0
                 THEN len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                          x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be'], x)))
                      / CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS DOUBLE)
                 ELSE 0.0 END, 6) AS stopword_ratio
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.round(textual.punct_ratio(t), 6).alias("punct_ratio"),
        F.round(textual.stopword_ratio(t), 6).alias("stopword_ratio"),
    )


@q(
    "text_fingerprint",
    """
    SELECT doc_id,
           array_to_string(list_sort(list_distinct(
             list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g')), '\\s+'),
                         x -> x <> ''))), ' ') AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", textual.fingerprint(F.col("text")).alias("fingerprint"))


@q(
    "dedup_exact_groups",
    """
    SELECT fp AS dedup_key, COUNT(*) AS group_size, MIN(doc_id) AS representative
    FROM (SELECT doc_id,
                 array_to_string(list_sort(list_distinct(
                   list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g')), '\\s+'),
                               x -> x <> ''))), ' ') AS fp
          FROM documents)
    GROUP BY fp HAVING COUNT(*) > 1
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.duplicate_groups(docs, textual.fingerprint(F.col("text")))


# rows-only checks (no SQL oracle: approximate / hash-seeded algorithms)
# Brute-force all-pairs 3-gram Jaccard >= 0.5 — the shared oracle for the
# blocked near-dup pipelines (minhash / simhash).  Each pipeline's verify
# step pins precision by construction, so a driver mismatch against this
# O(n^2) scan means the blocking dropped a true near-dup pair: it
# falsifies blocking recall, which r1's raw-candidate outputs could not.
_NEAR_DUP_ORACLE = """
    WITH sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3
                  THEN list_transform(range(1, len(toks) - 1),
                       i -> array_to_string(toks[i:i+2], ' '))
                  ELSE [array_to_string(toks, ' ')] END) AS shingles
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS toks
            FROM documents)
    )
    ,
    sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           ROUND(shared / CAST(sa.n + sb.n - shared AS DOUBLE), 6) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE ROUND(shared / CAST(sa.n + sb.n - shared AS DOUBLE), 6) >= 0.5
    """


@q("dedup_minhash_pairs", _NEAR_DUP_ORACLE)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection, VERIFIED: banded signature buckets
    (32 hashes, 8 bands) propose candidates, exact 3-gram Jaccard >= 0.5
    keeps true near-dups.  Held to the brute-force all-pairs oracle — this
    caught a real bug in r2 (a two-arg transform lambda silently hashed
    the array index instead of the permutation index, collapsing recall
    to exact-dups-only)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cands = dedup.minhash_lsh_candidates(docs, num_hashes=32, bands=8) \
        .select("id_a", "id_b")
    # candidate lineage is fused (not materialized): no pair pruning
    verified = dedup.ngram_jaccard_pairs(docs, cands, n=3,
                                         prune_to_pairs=False)
    return verified.filter(F.col("jaccard") >= 0.5)


@q("dedup_simhash_pairs", _NEAR_DUP_ORACLE)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-blocked near-dup detection, VERIFIED: 8x8-bit band blocking
    proposes candidate pairs (pigeonhole guarantees every pair within
    Hamming<=7 shares a band), then exact 3-gram Jaccard >= 0.5 keeps only
    true near-dups.  The oracle is the brute-force all-pairs Jaccard join:
    the verify step pins precision by construction, so a mismatch means
    the blocking dropped a true pair — this falsifies the recall of the
    banding, which r1's raw-hamming output could not.  At 100 TB only the
    blocked pipeline is runnable; the O(n^2) oracle form is for sf0.01
    cross-checking."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # hamming <= 16 screens band-collision noise before the exact verify:
    # measured true (jaccard >= 0.5) pairs sit at hamming <= 12 on this
    # corpus shape (the synthetic docs share one small vocabulary, so even
    # unrelated pairs land far below the random-pair expectation of 32) —
    # 16 keeps 33% recall margin while cutting the verify join ~2x
    cands = dedup.simhash_candidates(docs, max_hamming=16, bands=8) \
        .select("id_a", "id_b")
    # candidate lineage is fused (not materialized): no pair pruning
    verified = dedup.ngram_jaccard_pairs(docs, cands, n=3,
                                         prune_to_pairs=False)
    return verified.filter(F.col("jaccard") >= 0.5)


@q(
    "ngram_jaccard",
    """
    WITH sh AS (
      SELECT doc_id,
             list_distinct(ngrams) AS shingles
      FROM (
        SELECT doc_id,
               CASE WHEN len(toks) >= 3
                    THEN list_transform(range(1, len(toks) - 1),
                         i -> array_to_string(toks[i:i+2], ' '))
                    ELSE [array_to_string(toks, ' ')] END AS ngrams
        FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS toks
              FROM documents))
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CASE WHEN len(list_distinct(a.shingles || b.shingles)) > 0
                 THEN len(list_intersect(a.shingles, b.shingles))
                      / CAST(len(list_distinct(a.shingles || b.shingles)) AS DOUBLE)
                 ELSE 0.0 END, 6) AS jaccard
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    WHERE a.doc_id % 5 = 0
    """,
)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = docs.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    ).filter((F.col("id_a") % 5) == 0)
    pairs = pairs.join(
        docs.select(F.col("doc_id").alias("id_b")), on="id_b", how="left_semi"
    )
    return dedup.ngram_jaccard_pairs(docs, pairs, n=3)


@q(
    "embed_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5)
    SELECT query_id, vec_id,
           ROUND(list_cosine_similarity(embedding::DOUBLE[], qv::DOUBLE[]), 6) AS cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv::DOUBLE[]) DESC, vec_id) AS INT) AS rank
    FROM embeddings, q
    QUALIFY rank <= 5
    """,
)
def embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return similarity.brute_force_topk(emb, qs, k=5)


_EMBED_TOPK_ORACLE = """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5)
    SELECT query_id, vec_id,
           ROUND(list_cosine_similarity(embedding::DOUBLE[], qv::DOUBLE[]), 6) AS cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv::DOUBLE[]) DESC, vec_id) AS INT) AS rank
    FROM embeddings, q
    QUALIFY rank <= 5
    """


@q("embed_topk_numpy", _EMBED_TOPK_ORACLE)
def embed_topk_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as embed_topk (exact brute force), so it shares the
    same oracle verbatim — the Arrow/BLAS path must be bit-for-bit
    equivalent after 6-decimal rounding."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return similarity.brute_force_topk(emb, qs, k=5, method="numpy")


@q("embed_lsh_topk", _EMBED_TOPK_ORACLE)
def embed_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed top-k, held to the EXACT top-k oracle: at this
    table/bit setting (20 tables x 3 bits) the candidate union must cover
    every true top-5 neighbor of the sf0.01 query set, so any recall
    regression in the bucketing fails the driver check.  (Fewer/narrower
    tables trade recall for speed — the operator stays approximate in
    general; this config pins it to exactness on the test corpus.)"""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return similarity.lsh_topk(emb, qs, k=5, bits=3, num_tables=20)


@q(
    "embed_near_dup",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.5
    """,
)
def embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return dedup.embedding_near_dup_pairs(emb, block_col="label", threshold=0.5)


@q(
    "lang_id",
    """
    WITH scored AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS toks
      FROM documents),
    s2 AS (
      SELECT doc_id, lang,
             len(list_filter(toks, x -> list_contains(['der','die','und','das','nicht'], x))) AS s_de,
             len(list_filter(toks, x -> list_contains(['the','and','of','is','that'], x))) AS s_en,
             len(list_filter(toks, x -> list_contains(['el','la','los','que','de'], x))) AS s_es,
             len(list_filter(toks, x -> list_contains(['le','les','des','est','une'], x))) AS s_fr,
             len(list_filter(toks, x -> list_contains(['de','shi','le','bu','wo'], x))) AS s_zh
      FROM scored)
    SELECT doc_id, lang,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) <= 0 THEN 'und'
                WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                ELSE 'zh' END AS lang_pred
    FROM s2
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", "lang",
                       textual.language_id(F.col("text")).alias("lang_pred"))


#: Round-11 driver window — per the r10 verdict ("stage the r11 driver
#: correctness window to lead with the 24 r10-optimized queries plus
#: rotation filler"): the 24 r10-optimized paths (fan_out batch +
#: numeric-id graph batch), the 2 additional r11-touched paths
#: (hits_customer_supplier driver fast path, pagerank_event_transitions
#: bounded-graph driver path; cosine_histogram_emb / semantic_decontam_emb
#: / bloom_fpr_docs from the r11 fan_out-placement batch are already in
#: the r10-optimized set), then the 24 oldest driver greens from the
#: rotation list staged in NOTES.md at the end of round 10 (minus the two
#: already present).  Every name is driver-green in a prior round; the
#: rotation is a pure reorder of queries() — nothing added or removed.
_PRIORITY_R11 = [
    # r10-optimized (VERDICT r10, batches 1-3 + graph ids)
    "poisson_bootstrap_events", "code_switch_docs", "semantic_decontam_emb",
    "cms_tokens_docs", "kappa_langid_docs", "bloom_fpr_docs",
    "char_entropy_docs", "int8_quantize_emb", "mcnemar_gates_docs",
    "gopher_rules_docs", "cosine_histogram_emb", "text_quality",
    "q1_pricing_summary", "pca_power_emb", "token_budget_select_docs",
    "random_projection_emb", "lang_confusion_docs", "bpe_encode_docs",
    "script_ratio_docs", "quality_gate_docs", "bloom_decontaminate_docs",
    "pagerank_orders", "ppr_suppliers", "kcore_orders",
    # r11-touched (driver fast paths)
    "hits_customer_supplier", "pagerank_event_transitions",
    # oldest-green rotation filler (NOTES.md staged list order)
    "udf_charge", "sliding_window_events", "stratified_sample_docs",
    "tfidf_top_terms", "triangle_count_emb", "unpivot_part_metrics",
    "vocab_top_terms", "approx_distinct_invariant", "arg_extremum",
    "boilerplate_ngrams_docs", "business_days", "concat_diag_relaxed",
    "concat_relaxed", "content_fingerprint_md5", "corr_value_k_events",
    "dedup_stats", "distinct_users_by_type", "drop_nans_q", "dt_funcs2",
    "eq_missing_q", "filtered_agg", "group_shortcuts",
    "hierarchical_rollup_events", "histogram_event_values",
]


def _rotated(d: dict) -> dict:
    out = {n: d[n] for n in _PRIORITY_R11 if n in d}
    out.update((n, v) for n, v in d.items() if n not in out)
    return out


def queries() -> dict[str, Query]:
    return _rotated(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return _rotated(_ORACLES)


# ===========================================================================
# coverage batch 2
# ===========================================================================
@q(
    "unnest_struct",
    """
    SELECT o_orderkey, o_orderstatus AS st, ROUND(o_totalprice, 2) AS tp
    FROM orders
    """,
)
def unnest_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load(spark, sf_dir, "orders")
    packed = od.with_columns(
        info=td.Expr(F.struct(
            F.col("o_orderstatus").alias("st"),
            F.round(F.col("o_totalprice"), 2).alias("tp"),
        ))
    ).select("o_orderkey", "info")
    return packed.unnest("info").df


@q(
    "nan_handling",
    """
    WITH t AS (
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_discount = 0.0 THEN 'NaN'::DOUBLE
                  ELSE l_discount END AS d
      FROM lineitem)
    SELECT l_orderkey, l_linenumber,
           CASE WHEN isnan(d) THEN 0.0 ELSE d END AS d_filled,
           isnan(d) AS was_nan
    FROM t
    """,
)
def nan_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    d = td.when(td.col("l_discount") == 0.0).then(float("nan")).otherwise(td.col("l_discount"))
    out = (
        li.with_columns(d=d)
        .select(
            "l_orderkey", "l_linenumber",
            d_filled=td.col("d").fill_nan(0.0),
            was_nan=td.col("d").is_nan(),
        )
    )
    return out.df


@q(
    "drop_nans_q",
    """
    WITH t AS (
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_discount = 0.0 THEN 'NaN'::DOUBLE
                  ELSE l_discount END AS d
      FROM lineitem)
    SELECT l_orderkey, l_linenumber, d FROM t WHERE NOT isnan(d)
    """,
)
def drop_nans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    d = td.when(td.col("l_discount") == 0.0).then(float("nan")).otherwise(td.col("l_discount"))
    return (li.with_columns(d=d).select("l_orderkey", "l_linenumber", "d")
            .drop_nans("d").df)


@q(
    "unique_keep_first",
    """
    SELECT o_custkey, o_orderkey, o_orderdate FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate DESC, o_orderkey) = 1
    """,
)
def unique_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load(spark, sf_dir, "orders")
    out = (
        od.select("o_custkey", "o_orderkey", "o_orderdate")
        .sort(["o_orderdate", "o_orderkey"], descending=[True, False])
        .unique(subset="o_custkey", keep="first")
    )
    return out.df


@q(
    "string_funcs2",
    """
    SELECT p_partkey,
           lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS zf,
           regexp_replace(p_name, '^[a-z]+', 'X') AS strip_first_word,
           concat_ws('|', p_brand, p_type) AS joined,
           repeat(p_brand, 2) AS dbl
    FROM part
    """,
)
def string_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    pt = load(spark, sf_dir, "part")
    out = pt.select(
        "p_partkey",
        zf=td.col("p_partkey").cast("string").str.zfill(8),
        strip_first_word=td.col("p_name").str.replace("^[a-z]+", "X"),
        joined=td.concat_str(td.col("p_brand"), td.col("p_type"), separator="|"),
        dbl=td.concat_str(td.col("p_brand"), td.col("p_brand")),
    )
    return out.df


@q(
    "dt_funcs2",
    """
    SELECT o_orderkey,
           CAST(epoch_ms(o_orderdate) AS BIGINT) AS ep_ms,
           CAST(epoch_us(o_orderdate) AS BIGINT) AS ep_us,
           o_orderdate + INTERVAL 1 MONTH + INTERVAL 10 DAY AS shifted,
           CAST(o_orderdate AS DATE) + INTERVAL 1 YEAR AS next_year
    FROM orders
    """,
)
def dt_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load(spark, sf_dir, "orders")
    d = td.col("o_orderdate")
    out = od.select(
        "o_orderkey",
        ep_ms=d.dt.epoch("ms"),
        ep_us=d.dt.epoch("us"),
        shifted=d.dt.offset_by("1mo10d"),
        next_year=d.dt.offset_by("1y"),
    )
    return out.df


@q(
    "group_shortcuts",
    """
    SELECT s_nationkey,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS s_acctbal,
           CAST(SUM(CAST(s_suppkey AS DECIMAL(18,2))) AS DOUBLE) AS s_suppkey
    FROM supplier GROUP BY s_nationkey
    """,
)
def group_shortcuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    su = load(spark, sf_dir, "supplier")
    num_cols = [c for c in cs.numeric()._resolve(su.schema) if c != "s_nationkey"]
    out = su.group_by("s_nationkey").agg(
        **{c: _dec(td.col(c)).sum().cast("double") for c in num_cols}
    )
    return out.select("s_nationkey", "s_acctbal", "s_suppkey").df


@q(
    "sessionize",
    """
    WITH marked AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS mts,
             CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN 1
                  WHEN date_diff('second', lag(CAST(ts AS TIMESTAMP)) OVER w,
                                 CAST(ts AS TIMESTAMP)) > 1800 THEN 1
                  ELSE 0 END AS is_new
      FROM events WHERE user_id < 20
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    ),
    sess AS (
      SELECT user_id, event_id, mts,
             CAST(SUM(is_new) OVER (PARTITION BY user_id
                  ORDER BY mts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
      FROM marked)
    SELECT user_id, session_no, COUNT(*) AS n_events,
           CAST(MIN(mts) AS TIMESTAMP) AS session_start
    FROM sess GROUP BY user_id, session_no
    """,
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap): the batch form of the
    streaming session_window, expressed as lag+cumsum windows partitioned
    by user — shuffles once on user_id, scales with user cardinality."""
    from pyspark.sql.window import Window

    ev = load_events(spark, sf_dir).filter(td.col("user_id") < 20).df
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    is_new = F.when(
        F.lag("ts").over(w).isNull() |
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)) > 1800),
        1).otherwise(0)
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (ev.withColumn("is_new", is_new)
            .withColumn("session_no", F.sum("is_new").over(cum)))
    return (sess.groupBy("user_id", "session_no")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("ts").alias("session_start")))


@q(
    "topk_per_group",
    """
    SELECT c_mktsegment, o_orderkey, o_totalprice FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    QUALIFY row_number() OVER (PARTITION BY c_mktsegment
             ORDER BY o_totalprice DESC, o_orderkey) <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    cu = load(spark, sf_dir, "customer").df
    od = load(spark, sf_dir, "orders").df
    j = cu.join(od, cu.c_custkey == od.o_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (j.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= 3)
            .select("c_mktsegment", "o_orderkey", "o_totalprice"))


@q(
    "eq_missing_q",
    """
    WITH t AS (SELECT c_custkey,
                      NULLIF(c_mktsegment, 'BUILDING') AS seg
               FROM customer)
    SELECT c_custkey,
           seg IS NOT DISTINCT FROM NULL AS was_building,
           seg IS DISTINCT FROM 'MACHINERY' AS not_machinery
    FROM t
    """,
)
def eq_missing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load(spark, sf_dir, "customer")
    seg = td.when(td.col("c_mktsegment") == "BUILDING").then(None).otherwise(td.col("c_mktsegment"))
    out = (
        cu.with_columns(seg=seg)
        .select(
            "c_custkey",
            was_building=td.col("seg").eq_missing(None),
            not_machinery=td.col("seg").ne_missing("MACHINERY"),
        )
    )
    return out.df


@q(
    "multimodal_decode",
    """
    SELECT doc_id,
           CAST(8 + doc_id % 16 AS INTEGER) AS width,
           CAST(4 + doc_id % 8 AS INTEGER) AS height,
           ROUND((doc_id % 256) / 255.0, 6) AS mean_r,
           ROUND(((doc_id * 7) % 256) / 255.0, 6) AS mean_g,
           ROUND(((doc_id * 13) % 256) / 255.0, 6) AS mean_b,
           CAST(0.0 AS DOUBLE) AS luma_std
    FROM documents WHERE doc_id < 100
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, value-oracled: each doc gets a solid-color BMP
    whose dimensions and RGB are closed-form in doc_id, encoded
    executor-side (pandas_udf), then decoded + featurized through the
    multimodal mapInPandas path with the spec-level BMP codec.  The
    oracle recomputes the expected dims/means arithmetically — a codec or
    plumbing regression flips hard-compared values.  (Solid color =>
    luma std is exactly 0.)"""
    import pandas as pd

    from tabsdata_spark.llm import multimodal

    def make_bmps(batches):
        import numpy as np

        from tabsdata_spark.llm import codecs

        for pdf in batches:
            payloads = []
            for i in pdf["doc_id"]:
                i = int(i)
                px = np.empty((4 + i % 8, 8 + i % 16, 3), dtype=np.uint8)
                px[:, :, 0] = i % 256
                px[:, :, 1] = (i * 7) % 256
                px[:, :, 2] = (i * 13) % 256
                payloads.append(codecs.encode_bmp(px))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .filter(F.col("doc_id") < 100)
    bins = docs.select("doc_id").mapInPandas(
        make_bmps, "doc_id long, payload binary")
    dec = multimodal.decode_and_featurize(bins)
    return dec.select(
        "doc_id", "width", "height",
        F.element_at("features", 1).alias("mean_r"),
        F.element_at("features", 2).alias("mean_g"),
        F.element_at("features", 3).alias("mean_b"),
        F.element_at("features", 4).alias("luma_std"))


# DuckDB twin of textual.portable_hash60: int(md5(s)[:15], 16)
# Digit-by-digit positional parse: 15 substr/instr probes of the md5 hex.
# 4x faster in DuckDB than the regexp_extract_all + list_reduce fold it
# replaced (md5 of a SHORT string is cheap; the char-list machinery was
# the bottleneck).  Only ever applied to short inputs — a long-text {v}
# would pay 15 md5 evaluations and should stage the hex first.
_HASH60_SQL = """((instr('0123456789abcdef', substr(md5({v}), 1, 1)) - 1) * 72057594037927936
      + (instr('0123456789abcdef', substr(md5({v}), 2, 1)) - 1) * 4503599627370496
      + (instr('0123456789abcdef', substr(md5({v}), 3, 1)) - 1) * 281474976710656
      + (instr('0123456789abcdef', substr(md5({v}), 4, 1)) - 1) * 17592186044416
      + (instr('0123456789abcdef', substr(md5({v}), 5, 1)) - 1) * 1099511627776
      + (instr('0123456789abcdef', substr(md5({v}), 6, 1)) - 1) * 68719476736
      + (instr('0123456789abcdef', substr(md5({v}), 7, 1)) - 1) * 4294967296
      + (instr('0123456789abcdef', substr(md5({v}), 8, 1)) - 1) * 268435456
      + (instr('0123456789abcdef', substr(md5({v}), 9, 1)) - 1) * 16777216
      + (instr('0123456789abcdef', substr(md5({v}), 10, 1)) - 1) * 1048576
      + (instr('0123456789abcdef', substr(md5({v}), 11, 1)) - 1) * 65536
      + (instr('0123456789abcdef', substr(md5({v}), 12, 1)) - 1) * 4096
      + (instr('0123456789abcdef', substr(md5({v}), 13, 1)) - 1) * 256
      + (instr('0123456789abcdef', substr(md5({v}), 14, 1)) - 1) * 16
      + (instr('0123456789abcdef', substr(md5({v}), 15, 1)) - 1) * 1)"""


@q(
    "rolling_fingerprint",
    f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) > 8
                  THEN list_transform(range(1, len(t) - 6),
                       i -> array_to_string(t[i:i+7], ' '))
                  ELSE [array_to_string(t, ' ')] END) AS gram
      FROM toks
    )
    SELECT doc_id, MIN({_HASH60_SQL.format(v='gram')}) AS fp
    FROM grams GROUP BY doc_id
    """,
)
def rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed min-hash fingerprint, held to a full value-level oracle:
    the portable_hash60 mode (md5-derived 60-bit ints) reproduces bit-exact
    in DuckDB, so the tokenization, 8-gram windowing, AND the min-winnow
    are all falsified, not just row counts.  Production default stays
    xxhash64 (same code path; only the leaf hash differs)."""
    from tabsdata_spark.scale import fan_out

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # heavy O(len) per-row hashing over a one-row-group input: fan out
    return fan_out(docs).select(
        "doc_id",
        textual.rolling_hash_fingerprint(
            F.col("text"), hash_fn=textual.portable_hash60).alias("fp"),
    )


@q(
    "simhash_values",
    f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                x -> x <> '')) AS tok
      FROM documents
    ),
    h AS (
      SELECT doc_id, {_HASH60_SQL.format(v='tok')} AS hv FROM tok
    ),
    votes AS (
      SELECT doc_id, b.b AS b,
             SUM(((hv >> b.b) & 1) * 2 - 1) AS vote
      FROM h, (SELECT unnest(range(0, 60)) AS b) b
      GROUP BY doc_id, b.b
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def simhash_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw SimHash signatures, held to a full value-level oracle: with
    portable_hash60 token hashes the 60-bit signature reproduces bit-exact
    in DuckDB (per-bit majority vote over token-hash bits), falsifying the
    tokenizer, the hash, and the pandas_udf bit-fold.  Production default
    stays xxhash64."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.simhash(docs, hash_fn=textual.portable_hash60) \
        .select("doc_id", "simhash")


# ===========================================================================
# coverage batch 3: adapted TPC-H join/agg suite (schema has no partsupp /
# commitdate / shipmode -- predicates adapted to the driver star schema)
# ===========================================================================
@q(
    "q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (EXISTS -> left-semi join).  The semi join carries the
    non-equi shipdate>orderdate predicate through a pre-filtered projection,
    so the shuffle moves only (orderkey) pairs, not full lineitem rows."""
    od = load(spark, sf_dir, "orders").filter(
        (td.col("o_orderdate") >= td.lit("1996-07-01").cast("timestamp"))
        & (td.col("o_orderdate") < td.lit("1996-10-01").cast("timestamp")))
    # EXISTS(shipdate > orderdate) == max(shipdate) per order > orderdate:
    # one map-side-combined agg over lineitem instead of join+distinct+semi
    li_max = (
        load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
        .group_by("l_orderkey")
        .agg(max_ship=td.col("l_shipdate").max())
    )
    out = (
        od.join(li_max, left_on="o_orderkey", right_on="l_orderkey")
        .filter(td.col("max_ship") > td.col("o_orderdate"))
        .group_by("o_orderpriority")
        .agg(order_count=td.col("o_orderpriority").len())
        .sort("o_orderpriority")
    )
    return out.df


@q(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(vol) AS DOUBLE) AS revenue
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 year(l.l_shipdate) AS l_year,
                 CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS vol
          FROM supplier s
          JOIN lineitem l ON s.s_suppkey = l.l_suppkey
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
          WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                                 AND TIMESTAMP '1997-12-31') shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: two broadcast nation joins + the big 3-table chain.  The
    disjunctive nation-pair predicate lands after the broadcasts, pruning
    before the orderkey shuffle."""
    li = load(spark, sf_dir, "lineitem").filter(
        td.col("l_shipdate").is_between(
            td.lit("1996-01-01").cast("timestamp"),
            td.lit("1997-12-31").cast("timestamp")))
    od = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cu = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    su = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    na = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = na.rename({"n_name": "supp_nation"})
    n2 = na.rename({"n_name": "cust_nation"})
    j = (
        li.join(od, left_on="l_orderkey", right_on="o_orderkey")
        .join(cu, left_on="o_custkey", right_on="c_custkey")
        .join(su, left_on="l_suppkey", right_on="s_suppkey")
        .join(n1, left_on="s_nationkey", right_on="n_nationkey")
        .join(n2, left_on="c_nationkey", right_on="n_nationkey")
        .filter(
            ((td.col("supp_nation") == "NATION_1") & (td.col("cust_nation") == "NATION_2"))
            | ((td.col("supp_nation") == "NATION_2") & (td.col("cust_nation") == "NATION_1")))
    )
    out = (
        j.with_columns(
            l_year=td.col("l_shipdate").dt.year(),
            vol=_dec(td.col("l_extendedprice")) * (1 - _dec(td.col("l_discount"))),
        )
        .group_by("supp_nation", "cust_nation", "l_year")
        .agg(revenue=td.col("vol").sum().cast("double"))
        .sort(["supp_nation", "cust_nation", "l_year"])
    )
    return out.df


@q(
    "q8_market_share",
    """
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN nation = 'NATION_1' THEN vol ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(vol) AS DOUBLE), 6) AS mkt_share
    FROM (SELECT year(o.o_orderdate) AS o_year,
                 CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS vol,
                 n.n_name AS nation
          FROM part p
          JOIN lineitem l ON p.p_partkey = l.l_partkey
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN nation n ON s.s_nationkey = n.n_nationkey
          WHERE p.p_type = 'PROMO') all_nations
    GROUP BY o_year ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: conditional-aggregate market share.  part filter
    pushes to the scan; nation broadcasts."""
    pt = load(spark, sf_dir, "part").filter(td.col("p_type") == "PROMO") \
        .select("p_partkey")
    li = load(spark, sf_dir, "lineitem")
    su = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    od = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    na = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        li.join(pt, left_on="l_partkey", right_on="p_partkey")
        .join(su, left_on="l_suppkey", right_on="s_suppkey")
        .join(od, left_on="l_orderkey", right_on="o_orderkey")
        .join(na, left_on="s_nationkey", right_on="n_nationkey")
        .with_columns(
            o_year=td.col("o_orderdate").dt.year(),
            vol=_dec(td.col("l_extendedprice")) * (1 - _dec(td.col("l_discount"))),
        )
    )
    nat_vol = td.when(td.col("n_name") == "NATION_1").then(td.col("vol")) \
        .otherwise(td.lit(0).cast("decimal(18,2)"))
    out = (
        j.group_by("o_year")
        .agg(
            mkt_share=(nat_vol.sum().cast("double")
                       / td.col("vol").sum().cast("double")).round(6),
        )
        .sort("o_year")
    )
    return out.df


@q(
    "q9_product_profit",
    """
    SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
                 CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                 - CAST(p.p_retailprice AS DECIMAL(18,2))
                   * CAST(l.l_quantity AS DECIMAL(18,2))
                   * CAST(0.10 AS DECIMAL(18,2)) AS amount
          FROM part p
          JOIN lineitem l ON p.p_partkey = l.l_partkey
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN nation n ON s.s_nationkey = n.n_nationkey
          WHERE p.p_name LIKE '%red%') profit
    GROUP BY nation, o_year ORDER BY nation, o_year DESC
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (supplycost ~ 10% of retailprice -- no partsupp in the
    driver schema)."""
    pt = load(spark, sf_dir, "part").filter(td.col("p_name").str.contains("red")) \
        .select("p_partkey", "p_retailprice")
    li = load(spark, sf_dir, "lineitem")
    su = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    od = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    na = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        li.join(pt, left_on="l_partkey", right_on="p_partkey")
        .join(su, left_on="l_suppkey", right_on="s_suppkey")
        .join(od, left_on="l_orderkey", right_on="o_orderkey")
        .join(na, left_on="s_nationkey", right_on="n_nationkey")
        .with_columns(
            nation=td.col("n_name"),
            o_year=td.col("o_orderdate").dt.year(),
            amount=_dec(td.col("l_extendedprice")) * (1 - _dec(td.col("l_discount")))
                   - _dec(td.col("p_retailprice")) * _dec(td.col("l_quantity"))
                     * td.lit(0.10).cast("decimal(18,2)"),
        )
    )
    out = (
        j.group_by("nation", "o_year")
        .agg(sum_profit=td.col("amount").sum().cast("double"))
        .sort(["nation", "o_year"], descending=[False, True])
    )
    return out.df


@q(
    "q12_priority_counts",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q12_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (returnflag stands in for shipmode)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (td.col("l_shipdate") >= td.lit("1996-01-01").cast("timestamp"))
        & (td.col("l_shipdate") < td.lit("1997-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_returnflag")
    od = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hi = td.col("o_orderpriority").is_in(["1-URGENT", "2-HIGH"])
    out = (
        li.join(od, left_on="l_orderkey", right_on="o_orderkey")
        .with_columns(
            high=td.when(hi).then(1).otherwise(0),
            low=td.when(~hi).then(1).otherwise(0),
        )
        .group_by("l_returnflag")
        .agg(
            high_line_count=td.col("high").sum(),
            low_line_count=td.col("low").sum(),
        )
        .sort("l_returnflag")
    )
    return out.df


@q(
    "q14_promo_revenue",
    """
    SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN vol ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(vol) AS DOUBLE), 6) AS promo_revenue
    FROM (SELECT p.p_type,
                 CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS vol
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
            AND l.l_shipdate < TIMESTAMP '1996-10-01') t
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: whole-table conditional ratio (single-row result)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (td.col("l_shipdate") >= td.lit("1996-09-01").cast("timestamp"))
        & (td.col("l_shipdate") < td.lit("1996-10-01").cast("timestamp")))
    pt = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(pt, left_on="l_partkey", right_on="p_partkey").with_columns(
        vol=_dec(td.col("l_extendedprice")) * (1 - _dec(td.col("l_discount"))))
    promo = td.when(td.col("p_type") == "PROMO").then(td.col("vol")) \
        .otherwise(td.lit(0).cast("decimal(18,2)"))
    out = j.select(
        promo_revenue=(100.0 * promo.sum().cast("double")
                       / td.col("vol").sum().cast("double")).round(6))
    return out.df


@q(
    "q16_supplier_cnt",
    """
    SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size
    """,
)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: COUNT(DISTINCT) after a selective dim filter."""
    pt = load(spark, sf_dir, "part").filter(
        (td.col("p_brand") != "Brand#1")
        & td.col("p_size").is_in([1, 5, 9, 13, 17, 21, 25, 29])
    ).select("p_partkey", "p_brand", "p_size")
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    out = (
        li.join(pt, left_on="l_partkey", right_on="p_partkey")
        .group_by("p_brand", "p_size")
        .agg(supplier_cnt=td.col("l_suppkey").n_unique())
        .sort(["supplier_cnt", "p_brand", "p_size"], descending=[True, False, False])
    )
    return out.df


@q(
    "q18_large_volume",
    """
    SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey
                           HAVING SUM(l_quantity) > 250)
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    """,
)
def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: HAVING subquery -> aggregate + semi join.  The qualifying
    orderkey set is tiny -> AQE turns the main join into a broadcast."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.group_by("l_orderkey")
        .agg(s=td.col("l_quantity").sum())
        .filter(td.col("s") > 250)
        .select("l_orderkey")
    )
    od = load(spark, sf_dir, "orders").join(big, left_on="o_orderkey",
                                            right_on="l_orderkey", how="semi")
    cu = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    out = (
        od.join(cu, left_on="o_custkey", right_on="c_custkey")
        .join(li, left_on="o_orderkey", right_on="l_orderkey")
        .group_by("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(sum_qty=_dec(td.col("l_quantity")).sum().cast("double"))
        .sort(["o_totalprice", "o_orderkey"], descending=[True, False])
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
    )
    return out.df


@q(
    "q19_disjunctive",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: OR-of-ANDs join predicate.  Expressed as a post-join
    filter; Catalyst derives the common p_brand IN (...) prefilter and
    pushes it below the join."""
    li = load(spark, sf_dir, "lineitem")
    pt = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(pt, left_on="l_partkey", right_on="p_partkey")
    qty, size, brand = td.col("l_quantity"), td.col("p_size"), td.col("p_brand")
    cond = (
        ((brand == "Brand#12") & size.is_between(1, 5) & qty.is_between(1, 11))
        | ((brand == "Brand#23") & size.is_between(1, 10) & qty.is_between(10, 20))
        | ((brand == "Brand#3") & size.is_between(1, 15) & qty.is_between(20, 30))
    )
    out = j.filter(cond).select(
        revenue=(_dec(td.col("l_extendedprice"))
                 * (1 - _dec(td.col("l_discount")))).sum().cast("double"),
        n=td.col("l_orderkey").len(),
    )
    return out.df


@q(
    "q22_idle_customers",
    """
    SELECT c_mktsegment, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold (broadcast 1-row cross
    join) + NOT EXISTS (left-anti join)."""
    cu = load(spark, sf_dir, "customer")
    avg_bal = cu.filter(td.col("c_acctbal") > 0).select(
        avg_bal=td.col("c_acctbal").mean())
    recent = load(spark, sf_dir, "orders").filter(
        td.col("o_orderdate") >= td.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    out = (
        cu.join(avg_bal, how="cross")
        .filter(td.col("c_acctbal") > td.col("avg_bal"))
        .join(recent, left_on="c_custkey", right_on="o_custkey", how="anti")
        .group_by("c_mktsegment")
        .agg(
            numcust=td.col("c_custkey").len(),
            totacctbal=_dec(td.col("c_acctbal")).sum().cast("double"),
        )
        .sort("c_mktsegment")
    )
    return out.df


# ===========================================================================
# coverage batch 4: join-null/suffix semantics, relaxed concat, advanced
# string/math expr, business days, rank methods, elementwise UDF
# ===========================================================================
@q(
    "join_nulls_q",
    """
    WITH lhs AS (SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg
                 FROM customer),
         rhs AS (SELECT DISTINCT NULLIF(c_mktsegment, 'BUILDING') AS seg,
                        'seg_' || COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'NULL') AS label
                 FROM customer)
    SELECT l.c_custkey, l.seg, r.label
    FROM lhs l LEFT JOIN rhs r ON l.seg IS NOT DISTINCT FROM r.seg
    """,
)
def join_nulls_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join_nulls=True -> `<=>` predicates: null keys match null keys
    (frame.py:1026)."""
    cu = load(spark, sf_dir, "customer")
    seg = td.when(td.col("c_mktsegment") == "BUILDING").then(None) \
        .otherwise(td.col("c_mktsegment"))
    lhs = cu.with_columns(seg=seg).select("c_custkey", "seg")
    rhs = (
        cu.with_columns(seg=seg)
        .select("seg").unique()
        .with_columns(label=td.concat_str(td.lit("seg_"),
                                          td.col("seg").fill_null("NULL")))
    )
    return lhs.join(rhs, on="seg", how="left", join_nulls=True) \
        .select("c_custkey", "seg", "label").df


@q(
    "join_suffix_q",
    """
    SELECT a.o_orderkey, a.o_totalprice,
           b.o_totalprice AS o_totalprice_right,
           a.o_orderkey AS o_orderkey_right
    FROM orders a JOIN orders b ON a.o_orderkey = b.o_orderkey
    """,
)
def join_suffix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """coalesce=False keeps both key columns, right side suffixed
    (frame.py:1025,1054)."""
    od = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    out = od.join(od, on="o_orderkey", coalesce=False)
    return out.select("o_orderkey", "o_totalprice",
                      "o_totalprice_right", "o_orderkey_right").df


@q(
    "concat_relaxed",
    """
    SELECT k, CAST(v AS DOUBLE) AS v, src FROM (
      SELECT o_orderkey AS k, o_totalprice AS v, 'o' AS src FROM orders
      UNION ALL
      SELECT l_orderkey AS k, CAST(l_linenumber AS DOUBLE) AS v, 'l' AS src
      FROM lineitem)
    """,
)
def concat_relaxed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """concat how=vertical_relaxed: int column relaxes to the double
    supertype (functions/eager.py:23-115)."""
    od = load(spark, sf_dir, "orders").select(
        k=td.col("o_orderkey"), v=td.col("o_totalprice"), src=td.lit("o"))
    li = load(spark, sf_dir, "lineitem").select(
        k=td.col("l_orderkey"), v=td.col("l_linenumber"), src=td.lit("l"))
    return td.concat([od, li], how="vertical_relaxed").df


@q(
    "concat_diag_relaxed",
    """
    SELECT k, x, CAST(NULL AS VARCHAR) AS y FROM
      (SELECT o_orderkey AS k, o_totalprice AS x FROM orders)
    UNION ALL
    SELECT k, CAST(NULL AS DOUBLE) AS x, y FROM
      (SELECT CAST(c_custkey AS BIGINT) AS k, c_mktsegment AS y FROM customer)
    """,
)
def concat_diag_relaxed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ou = load(spark, sf_dir, "orders").select(k=td.col("o_orderkey"),
                                              x=td.col("o_totalprice"))
    cu = load(spark, sf_dir, "customer").select(k=td.col("c_custkey"),
                                                y=td.col("c_mktsegment"))
    return td.concat([ou, cu], how="diagonal_relaxed").select("k", "x", "y").df


@q(
    "math_extra",
    """
    SELECT p_partkey,
           ROUND(cbrt(p_retailprice), 6) AS cbrt_price,
           ROUND(p_retailprice / pow(10, floor(log10(abs(p_retailprice))) - 2)) *
             pow(10, floor(log10(abs(p_retailprice))) - 2) AS sig3,
           LEAST(p_size, 30) AS clip_hi,
           GREATEST(p_size, 5) AS clip_lo,
           ROUND((exp(p_size / 25.0) - exp(-p_size / 25.0)) / 2, 6) AS sh,
           ROUND((exp(p_size / 25.0) + exp(-p_size / 25.0)) / 2, 6) AS ch,
           ROUND((exp(p_size / 25.0) - exp(-p_size / 25.0))
                 / (exp(p_size / 25.0) + exp(-p_size / 25.0)), 6) AS th,
           ROUND(ln(1 + p_retailprice), 6) AS log1p_price,
           ROUND(log2(p_size), 6) AS log2_size
    FROM part
    """,
)
def math_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    pt = load(spark, sf_dir, "part")
    price, size = td.col("p_retailprice"), td.col("p_size")
    out = pt.select(
        "p_partkey",
        cbrt_price=price.cbrt().round(6),
        sig3=price.round_sig_figs(3),
        clip_hi=size.clip(upper_bound=30),
        clip_lo=size.clip(lower_bound=5),
        sh=(size / 25.0).sinh().round(6),
        ch=(size / 25.0).cosh().round(6),
        th=(size / 25.0).tanh().round(6),
        log1p_price=price.log1p().round(6),
        log2_size=size.log(2).round(6),
    )
    return out.df


@q(
    "str_advanced",
    """
    SELECT p_partkey,
           CAST(regexp_extract(p_brand, '#(\\d+)', 1) AS BIGINT) AS brand_num,
           (p_name LIKE '%red%' OR p_name LIKE '%blue%') AS has_color,
           replace(replace(p_name, 'red', 'crimson'), 'blue', 'azure') AS recolored,
           CASE WHEN starts_with(p_brand, 'Brand') THEN substr(p_brand, 6) ELSE p_brand END AS no_prefix,
           CASE WHEN ends_with(p_type, 'DARD') THEN substr(p_type, 1, length(p_type) - 4) ELSE p_type END AS no_suffix,
           rpad(p_brand, 12, '.') AS padded,
           CASE WHEN strpos(p_name, 'o') > 0 THEN strpos(p_name, 'o') - 1 END AS find_o,
           length(p_name) - length(replace(p_name, 'e', '')) AS n_e,
           array_to_string(list_transform(string_split(p_name, ' '),
                           x -> upper(x[1]) || x[2:]), ' ') AS title
    FROM part
    """,
)
def str_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    pt = load(spark, sf_dir, "part")
    name, brand, ptype = td.col("p_name"), td.col("p_brand"), td.col("p_type")
    out = pt.select(
        "p_partkey",
        brand_num=brand.str.extract(r"#(\d+)", 1).str.to_integer().cast("long"),
        has_color=name.str.contains_any(["red", "blue"]),
        recolored=name.str.replace_many({"red": "crimson", "blue": "azure"}),
        no_prefix=brand.str.strip_prefix("Brand"),
        no_suffix=ptype.str.strip_suffix("DARD"),
        padded=brand.str.pad_end(12, "."),
        find_o=name.str.find("o", literal=True).cast("int"),
        n_e=name.str.count_matches("e", literal=True).cast("long"),
        title=name.str.to_titlecase(),
    )
    return out.df


@q(
    "business_days",
    """
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) + INTERVAL (
             CASE isodow(o_orderdate)
               WHEN 1 THEN 3 WHEN 2 THEN 3 WHEN 3 THEN 5 WHEN 4 THEN 5
               WHEN 5 THEN 5 WHEN 6 THEN 4 WHEN 7 THEN 3 END) DAY AS plus3bd,
           CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
           CAST(date_trunc('quarter', o_orderdate) AS DATE) AS q_start
    FROM orders
    """,
)
def business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """add_business_days as a pure when-chain expression (no UDF); oracle
    encodes the equivalent weekday->offset map."""
    od = load(spark, sf_dir, "orders")
    d = td.col("o_orderdate")
    out = od.select(
        "o_orderkey",
        plus3bd=d.dt.add_business_days(3).cast("timestamp"),
        week_start=d.dt.truncate("1w").cast("date"),
        q_start=d.dt.truncate("1q").cast("date"),
    )
    return out.df


@q(
    "rank_methods",
    """
    SELECT o_orderkey,
           rank() OVER (ORDER BY o_orderpriority) AS rk_min,
           rank() OVER (ORDER BY o_orderpriority)
             + count(*) OVER (PARTITION BY o_orderpriority) - 1 AS rk_max,
           (2.0 * rank() OVER (ORDER BY o_orderpriority)
             + count(*) OVER (PARTITION BY o_orderpriority) - 1) / 2.0 AS rk_avg,
           dense_rank() OVER (ORDER BY o_orderpriority) AS rk_dense
    FROM orders
    """,
)
def rank_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load(spark, sf_dir, "orders")
    p = td.col("o_orderpriority")
    out = od.select(
        "o_orderkey",
        rk_min=p.rank("min").cast("long"),
        rk_max=p.rank("max").cast("long"),
        rk_avg=p.rank("average"),
        rk_dense=p.rank("dense").cast("long"),
    )
    return out.df


@q(
    "udf_element_tier",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 300000 THEN 'high'
                WHEN o_totalprice >= 100000 THEN 'mid'
                ELSE 'low' END AS tier,
           CAST(FLOOR(o_totalprice / 1000.0 + 0.5) AS BIGINT) AS k_price
    FROM orders
    """,
)
def udf_element_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elementwise (on_element) UDF path — rows iterated inside the Arrow
    batch (udf/function.py:213-254)."""
    class Tier(td.UDF):
        output_columns = [("tier", "string"), ("k_price", "long")]

        def on_element(self, price):
            tier = "high" if price >= 300000 else ("mid" if price >= 100000 else "low")
            # half-UP, not python's banker's round: portable across engines
            return [tier, int(price / 1000.0 + 0.5)]

    od = load(spark, sf_dir, "orders")
    out = od.udf(td.col("o_totalprice"), Tier()) \
        .select("o_orderkey", "tier", "k_price")
    return out.df


# ===========================================================================
# coverage batch 5: native event-time windowing (batch forms of the
# streaming operators in tabsdata_spark/streaming/bus.py)
# ===========================================================================
@q(
    "session_window_native",
    """
    WITH marked AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS mts,
             CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN 1
                  WHEN epoch(CAST(ts AS TIMESTAMP))
                       - epoch(lag(CAST(ts AS TIMESTAMP)) OVER w)
                       >= 1800.0 THEN 1
                  ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    ),
    sess AS (
      SELECT user_id, mts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY mts, event_id
                  ROWS UNBOUNDED PRECEDING) AS sno
      FROM marked)
    SELECT user_id,
           CAST(MIN(mts) AS TIMESTAMP) AS session_start,
           CAST(MAX(mts) AS TIMESTAMP) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sno
    """,
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native session_window (gap-merge) in batch mode — the exact
    operator the streaming bus uses with a watermark; state is bounded per
    (user, open session) at scale."""
    ev = load_events(spark, sf_dir).df
    out = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    return out


@q(
    "sliding_window_events",
    """
    WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS mts, value FROM events),
    slid AS (
      SELECT date_trunc('hour', mts) AS window_start, value FROM e
      UNION ALL
      SELECT date_trunc('hour', mts) - INTERVAL 1 HOUR AS window_start, value
      FROM e)
    SELECT window_start,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM slid GROUP BY window_start
    """,
)
def sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (2h window, 1h slide) — each event lands in two
    windows; Spark expands then partially aggregates before the shuffle."""
    ev = load_events(spark, sf_dir).df
    out = (
        ev.groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total"),
        )
        .select(F.col("window.start").alias("window_start"), "n", "total")
    )
    return out


@q(
    "asof_join_events",
    """
    SELECT l.event_id, l.user_id, CAST(l.ts AS TIMESTAMP) AS ts,
           CAST(r.ts AS TIMESTAMP) AS view_ts, r.event_id AS view_event
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (extension; blocked in the reference API): every click
    matched to the user's most recent prior view.  Union + forward-fill —
    one shuffle on user_id, one sort, no Python (extensions.py)."""
    from tabsdata_spark.extensions import asof_join

    ev = load_events(spark, sf_dir).df
    clicks = ev.filter(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view") \
        .select(F.col("event_id").alias("view_event"), "user_id", "ts")
    out = asof_join(clicks, views, on="ts", by="user_id")
    return out.select("event_id", "user_id", "ts",
                      F.col("ts_right").alias("view_ts"), "view_event")


@q(
    "range_join_events",
    """
    SELECT s.user_id, s.event_id AS signup_event, c.event_id AS click_event,
           CAST(c.ts AS TIMESTAMP) AS click_ts
    FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS s_start,
                 CAST(ts AS TIMESTAMP) + INTERVAL 1 DAY AS s_end
          FROM events WHERE event_type = 'signup') s
    JOIN (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'click') c
      ON s.user_id = c.user_id AND c.ts BETWEEN s.s_start AND s.s_end
    """,
)
def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (extension): clicks within 1 day after each signup.
    Bucketized equi-join — shuffle is linear in rows, not the cross
    product (extensions.py:range_join)."""
    from tabsdata_spark.extensions import range_join

    ev = load_events(spark, sf_dir).df
    signups = (ev.filter(F.col("event_type") == "signup")
               .select("user_id", F.col("event_id").alias("signup_event"),
                       F.col("ts").alias("s_start"),
                       (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("s_end")))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("user_id", F.col("event_id").alias("click_event"),
                      F.col("ts").alias("click_ts")))
    out = range_join(clicks, signups, "click_ts", "s_start", "s_end",
                     by="user_id")
    return out.select("user_id", "signup_event", "click_event", "click_ts")


@q(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: scalar MAX over a derived view as a 1-row broadcast
    cross join back onto the view — no second scan of lineitem, no
    self-join, and (unlike a whole-column window max) no funneling of the
    per-supplier table through a single task: at 100 TB the revenue view
    has one row per supplier, and only the per-partition max scalars move
    to compute the global max."""
    li = load(spark, sf_dir, "lineitem").filter(
        (td.col("l_shipdate") >= td.lit("1996-01-01").cast("timestamp"))
        & (td.col("l_shipdate") < td.lit("1996-04-01").cast("timestamp")))
    rev = (
        li.group_by("l_suppkey")
        .agg(total_revenue=(_dec(td.col("l_extendedprice"))
                            * (1 - _dec(td.col("l_discount")))).sum().cast("double"))
    ).df
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    top = rev.crossJoin(F.broadcast(mx)) \
        .filter(F.col("total_revenue") == F.col("__mx")).drop("__mx")
    su = load(spark, sf_dir, "supplier").df.select("s_suppkey", "s_name")
    return (su.join(top, su.s_suppkey == top.l_suppkey)
            .select("s_suppkey", "s_name", "total_revenue")
            .orderBy("s_suppkey"))


@q(
    "q17_small_quantity",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
             AS avg_yearly,
           COUNT(*) AS n
    FROM lineitem l
    JOIN (SELECT l_partkey AS pk, 0.2 * AVG(l_quantity) AS lim
          FROM lineitem GROUP BY l_partkey) t ON l.l_partkey = t.pk
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23' AND l.l_quantity < t.lim
    """,
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: correlated AVG subquery -> pre-aggregated join.  The
    per-part threshold aggregates once (map-side combined) instead of
    re-computing per outer row."""
    li = load(spark, sf_dir, "lineitem")
    lim = (
        li.group_by("l_partkey")
        .agg(lim=td.col("l_quantity").mean() * 0.2)
        .rename({"l_partkey": "pk"})
    )
    pt = load(spark, sf_dir, "part").filter(td.col("p_brand") == "Brand#23") \
        .select("p_partkey")
    out = (
        li.join(lim, left_on="l_partkey", right_on="pk")
        .join(pt, left_on="l_partkey", right_on="p_partkey", how="semi")
        .filter(td.col("l_quantity") < td.col("lim"))
        .select(
            avg_yearly=_dec(td.col("l_extendedprice")).sum().cast("double") / 7.0,
            n=td.col("l_orderkey").len(),
        )
    )
    return out.df


@q(
    "cube_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (extension; reference has no grouping sets).  Spark plans a
    single-pass Expand + aggregate — no per-level re-scan."""
    li = load(spark, sf_dir, "lineitem").df
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                 .cast("double").alias("sum_qty")))


@q(
    "median_by_group",
    """
    SELECT l_returnflag,
           ROUND(median(l_quantity), 6) AS med_qty,
           ROUND(median(l_extendedprice), 6) AS med_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def median_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median per group (Expr.median, expr.py:2524).  NOTE at 100 TB:
    exact median is a full sort per group; percentile_approx is the scale
    path when tolerance allows."""
    li = load(spark, sf_dir, "lineitem")
    out = (
        li.group_by("l_returnflag")
        .agg(
            med_qty=td.col("l_quantity").median().round(6),
            med_price=td.col("l_extendedprice").median().round(6),
        )
        .sort("l_returnflag")
    )
    return out.df


@q(
    "rolling_window_events",
    """
    SELECT user_id, event_id,
           ROUND(AVG(value) OVER (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP), event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mov_avg,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP), event_id
                 ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
    FROM events
    """,
)
def rolling_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling frame-spec windows (extension; the reference blocks
    `rolling`).  One shuffle on user_id serves both frames."""
    from pyspark.sql.window import Window

    ev = load_events(spark, sf_dir).df
    base = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w3 = base.rowsBetween(-2, Window.currentRow)
    wrun = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "user_id", "event_id",
        F.round(F.avg("value").over(w3), 6).alias("mov_avg"),
        F.sum(F.col("value").cast("decimal(18,4)")).over(wrun)
         .cast("double").alias("running_total"),
    )


@q(
    "hierarchical_rollup_events",
    """
    WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS mts,
                      CAST(value AS DECIMAL(18,4)) AS v
               FROM events),
    h AS (SELECT date_trunc('hour', mts) AS bucket, COUNT(*) AS n, SUM(v) AS s
          FROM e GROUP BY 1),
    d AS (SELECT date_trunc('day', bucket) AS bucket, SUM(n) AS n, SUM(s) AS s
          FROM h GROUP BY 1),
    m AS (SELECT date_trunc('month', bucket) AS bucket, SUM(n) AS n, SUM(s) AS s
          FROM d GROUP BY 1)
    SELECT 'hour' AS resolution, bucket, CAST(n AS BIGINT) AS n,
           CAST(s AS DOUBLE) AS total FROM h
    UNION ALL
    SELECT 'day', bucket, CAST(n AS BIGINT), CAST(s AS DOUBLE) FROM d
    UNION ALL
    SELECT 'month', bucket, CAST(n AS BIGINT), CAST(s AS DOUBLE) FROM m
    """,
)
def hierarchical_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup: raw events scanned once, coarser
    resolutions re-aggregate the finer output (extensions.py)."""
    from tabsdata_spark.extensions import hierarchical_rollup

    ev = load_events(spark, sf_dir).df
    return hierarchical_rollup(ev, "ts", "value")


@q(
    "connected_components_docs",
    """
    WITH RECURSIVE e AS (
      SELECT a.doc_id AS s, b.doc_id AS t
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 5 = 0
      UNION ALL
      SELECT a.doc_id + 1 AS s, a.doc_id + 2 AS t
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 2
      WHERE a.doc_id % 10 = 0
    ),
    sym AS (SELECT s, t FROM e UNION SELECT t AS s, s AS t FROM e),
    nodes AS (SELECT DISTINCT s AS n FROM sym),
    walk(node, label) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT sym.t, walk.label FROM walk JOIN sym ON sym.s = walk.node
    )
    SELECT node AS doc_id, MIN(label) AS component
    FROM walk GROUP BY node
    """,
)
def connected_components_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over a candidate-pair graph (transitive dedup
    clusters).  Oracle = DuckDB recursive CTE; Spark = iterative min-label
    propagation with per-round lineage checkpoints (llm/dedup.py)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    ids = docs.select(F.col("doc_id").alias("id"))
    e1 = (docs.filter(F.col("doc_id") % 5 == 0)
          .select(F.col("doc_id").alias("id_a"),
                  (F.col("doc_id") + 1).alias("id_b"))
          .join(ids, F.col("id_b") == F.col("id"), "left_semi"))
    e2 = (docs.filter(F.col("doc_id") % 10 == 0)
          .select((F.col("doc_id") + 1).alias("id_a"),
                  (F.col("doc_id") + 2).alias("id_b"))
          .join(ids, F.col("id_b") == F.col("id"), "left_semi"))
    comp = dedup.connected_components(e1.union(e2))
    return comp.select(F.col("node").alias("doc_id"), "component")


@q(
    "filtered_agg",
    """
    SELECT l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                FILTER (WHERE l_returnflag = 'R') AS DOUBLE) AS qty_returned,
           COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted
    FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
    """,
)
def filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expr.filter inside aggregation (expr.py:913) — the FILTER(WHERE)
    clause; lowers to when()-guarded aggregates, still one pass."""
    li = load(spark, sf_dir, "lineitem")
    out = (
        li.group_by("l_linestatus")
        .agg(
            qty_returned=_dec(td.col("l_quantity"))
                .filter(td.col("l_returnflag") == "R").sum().cast("double"),
            n_discounted=td.col("l_orderkey")
                .filter(td.col("l_discount") > 0.05).count(),
        )
        .sort("l_linestatus")
    )
    return out.df


@q(
    "percentiles_events",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.9), 6) AS p90,
           ROUND(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def percentiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group.  Scale note: exact
    percentile sorts each group; percentile_approx (t-digest) is the
    100 TB path when tolerance allows (see test_approx_count_distinct)."""
    ev = load_events(spark, sf_dir).df
    pct = F.percentile(F.col("value"), F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return (ev.groupBy("event_type")
            .agg(pct.alias("__p"))
            .select("event_type",
                    F.round(F.col("__p")[0], 6).alias("p50"),
                    F.round(F.col("__p")[1], 6).alias("p90"),
                    F.round(F.col("__p")[2], 6).alias("p99"))
            .orderBy("event_type"))


@q(
    "vector_normalize",
    """
    SELECT vec_id,
           ROUND(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 6) AS norm,
           ROUND(list_sum(embedding::DOUBLE[]) / len(embedding), 6) AS mean_dim
    FROM embeddings
    """,
)
def vector_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector math as JVM higher-order functions (no UDF): L2 norm and
    per-dimension mean over array<float> columns."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sq = F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)
    sm = F.aggregate(v, F.lit(0.0), lambda a, x: a + x)
    return emb.select(
        "vec_id",
        F.round(F.sqrt(sq), 6).alias("norm"),
        F.round(sm / F.size("embedding"), 6).alias("mean_dim"),
    )


@q(
    "parse_dates",
    """
    WITH t AS (SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS ds,
                      strftime(o_orderdate, '%d/%m/%Y %H:%M') AS eu
               FROM orders)
    SELECT o_orderkey,
           CAST(strptime(ds, '%Y-%m-%d') AS DATE) AS d_parsed,
           strptime(eu, '%d/%m/%Y %H:%M') AS ts_parsed
    FROM t
    """,
)
def parse_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """str.to_date / to_datetime round-trip (string.py:41,79)."""
    od = load(spark, sf_dir, "orders")
    d = td.col("o_orderdate")
    out = (
        od.with_columns(
            ds=d.dt.to_string("%Y-%m-%d"),
            eu=d.dt.to_string("%d/%m/%Y %H:%M"),
        )
        .select(
            "o_orderkey",
            d_parsed=td.col("ds").str.to_date("%Y-%m-%d"),
            ts_parsed=td.col("eu").str.to_datetime("%d/%m/%Y %H:%M"),
        )
    )
    return out.df


@q(
    "arg_extremum",
    """
    SELECT o_custkey,
           arg_max(o_orderkey, o_totalprice) AS biggest_order,
           arg_min(o_orderkey,
                   CAST(epoch(o_orderdate) AS BIGINT) * 1000000000 + o_orderkey)
             AS first_order,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
    FROM orders GROUP BY o_custkey
    """,
)
def arg_extremum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by arg-extremum aggregates — one pass, no window, no
    self-join (the scalable form of 'row with the max')."""
    od = load(spark, sf_dir, "orders").df
    # ties on o_orderdate are broken by orderkey via a composed sortable key
    # (dates are day-granular -> epoch*1e9 + key stays in bigint range)
    first_key = (F.unix_timestamp("o_orderdate") * F.lit(1_000_000_000)
                 + F.col("o_orderkey"))
    return (od.groupBy("o_custkey")
            .agg(F.max_by("o_orderkey", "o_totalprice").alias("biggest_order"),
                 F.min_by("o_orderkey", first_key).alias("first_order"),
                 F.max("o_totalprice").cast("double").alias("max_price")))


@q(
    "content_fingerprint_md5",
    """
    WITH t AS (SELECT doc_id,
                      md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
               FROM documents)
    SELECT fp, COUNT(*) AS n, MIN(doc_id) AS keeper
    FROM t GROUP BY fp
    """,
)
def content_fingerprint_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content md5 fingerprint (exact-dedup key at scale:
    group/shuffle on a 16-byte digest instead of full text)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return (docs.select("doc_id", F.md5(norm).alias("fp"))
            .groupBy("fp")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("doc_id").alias("keeper")))


# ===========================================================================
# TPC-H completion batch: q2/q11/q13/q20/q21 shapes.  The test star schema
# has no partsupp table, so lineitem serves as the part<->supplier catalog
# (same join/agg/subquery structure; reference surface: frame.py:1017 join,
# group_by.py:54 agg).
# ===========================================================================
@q(
    "q2_min_cost_supplier",
    """
    WITH cost AS (
        SELECT l.l_partkey, l.l_suppkey,
               MIN(l.l_extendedprice / l.l_quantity) AS unit_cost
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
        GROUP BY l.l_partkey, l.l_suppkey
    ),
    best AS (SELECT l_partkey, MIN(unit_cost) AS best_cost
             FROM cost GROUP BY l_partkey)
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_brand,
           CAST(FLOOR(c.unit_cost * 1000000.0 + 0.5) AS BIGINT)
             AS unit_cost_micros
    FROM cost c
    JOIN best b ON b.l_partkey = c.l_partkey AND c.unit_cost = b.best_cost
    JOIN part p ON p.p_partkey = c.l_partkey
    JOIN supplier s ON s.s_suppkey = c.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_size BETWEEN 1 AND 10 AND p.p_type = 'LARGE'
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated-min subquery -> per-key MIN aggregate +
    re-join on (key, min).  The part filter is applied *before* the cost
    aggregation via a broadcast semi join, so at 100 TB only the lineitems
    of the ~1/150 selected parts are aggregated; the dim chain
    (supplier->nation->region) broadcasts."""
    pt = (load(spark, sf_dir, "part")
          .filter((td.col("p_size").is_between(1, 10)) & (td.col("p_type") == "LARGE"))
          .select("p_partkey", "p_brand"))
    eu = (load(spark, sf_dir, "supplier")
          .join(load(spark, sf_dir, "nation"),
                left_on="s_nationkey", right_on="n_nationkey")
          .join(load(spark, sf_dir, "region").filter(td.col("r_name") == "EUROPE"),
                left_on="n_regionkey", right_on="r_regionkey")
          .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey",
        unit=td.col("l_extendedprice") / td.col("l_quantity"))
    cost = (
        li.join(pt, left_on="l_partkey", right_on="p_partkey", how="semi")
        .join(eu, left_on="l_suppkey", right_on="s_suppkey", how="semi")
        .group_by("l_partkey", "l_suppkey")
        .agg(unit_cost=td.col("unit").min())
    )
    best = cost.group_by("l_partkey").agg(best_cost=td.col("unit_cost").min())
    out = (
        cost.join(best, on="l_partkey")
        .filter(td.col("unit_cost") == td.col("best_cost"))
        .join(pt, left_on="l_partkey", right_on="p_partkey")
        .join(eu, left_on="l_suppkey", right_on="s_suppkey")
        .select("s_acctbal", "s_name", "n_name",
                p_partkey=td.col("l_partkey"),
                p_brand=td.col("p_brand"),
                # micros via pure IEEE ops (*, +, floor) — engine ROUND
                # libraries disagree on half-boundary-adjacent doubles
                # (measured at sf0.1: 266.907813 vs ...812); identical
                # double arithmetic cannot
                unit_cost_micros=(td.col("unit_cost") * 1000000.0 + 0.5)
                .floor().cast("long"))
        .sort(["s_acctbal", "n_name", "s_name", "p_partkey"],
              descending=[True, False, False, False])
    )
    return out.df


@q(
    "q11_important_parts",
    """
    WITH val AS (
        SELECT l.l_partkey,
               SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS val
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name IN ('NATION_3', 'NATION_7')
        GROUP BY l.l_partkey
    )
    SELECT l_partkey, CAST(val AS DOUBLE) AS part_value
    FROM val
    WHERE CAST(val AS DOUBLE) >
          (SELECT CAST(SUM(val) AS DOUBLE) * 0.001 FROM val)
    ORDER BY part_value DESC, l_partkey
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: group value + HAVING > fraction-of-total scalar
    subquery (1-row broadcast cross join).  Decimal sums keep the threshold
    compare bit-exact across engines and partition counts."""
    nt = (load(spark, sf_dir, "nation")
          .filter(td.col("n_name").is_in(["NATION_3", "NATION_7"]))
          .select("n_nationkey"))
    su = (load(spark, sf_dir, "supplier")
          .join(nt, left_on="s_nationkey", right_on="n_nationkey", how="semi")
          .select("s_suppkey"))
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey",
                                                "l_extendedprice")
    val = (
        li.join(su, left_on="l_suppkey", right_on="s_suppkey", how="semi")
        .group_by("l_partkey")
        .agg(val=_dec(td.col("l_extendedprice")).sum())
    )
    thr = val.select(thr=(td.col("val").sum().cast("double") * 0.001))
    out = (
        val.join(thr, how="cross")
        .filter(td.col("val").cast("double") > td.col("thr"))
        .select("l_partkey", part_value=td.col("val").cast("double"))
        .sort(["part_value", "l_partkey"], descending=[True, False])
    )
    return out.df


@q(
    "q13_customer_distribution",
    """
    WITH c_orders AS (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
             AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM c_orders GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: left join + two-level aggregation.  The non-equi join
    condition (priority filter) is pushed onto the orders side before the
    join -- COUNT(o_orderkey) over the left join is unchanged and the
    filtered side shuffles fewer rows."""
    cu = load(spark, sf_dir, "customer").select("c_custkey")
    od = (load(spark, sf_dir, "orders")
          .filter(td.col("o_orderpriority") != "1-URGENT")
          .select("o_custkey", "o_orderkey"))
    out = (
        cu.join(od, left_on="c_custkey", right_on="o_custkey", how="left")
        .group_by("c_custkey")
        .agg(c_count=td.col("o_orderkey").count())
        .group_by("c_count")
        .agg(custdist=td.col("c_count").len())
        .sort(["custdist", "c_count"], descending=[True, True])
    )
    return out.df


@q(
    "q20_excess_shippers",
    """
    WITH shipped AS (
        SELECT l_suppkey, l_partkey, SUM(l_quantity) AS qty97
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey, l_partkey
    ),
    total AS (
        SELECT l_partkey, SUM(l_quantity) AS qty_all
        FROM lineitem GROUP BY l_partkey
    )
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT sh.l_suppkey FROM shipped sh
        JOIN total t ON t.l_partkey = sh.l_partkey
        WHERE sh.l_partkey IN (SELECT p_partkey FROM part
                               WHERE p_name LIKE 'small%')
          AND sh.qty97 > 0.05 * t.qty_all
    )
    ORDER BY s.s_name, s.s_suppkey
    """,
)
def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested IN subqueries -> a chain of semi joins.
    Quantity sums are integral doubles (exact); the part-name prefix
    filter semi-joins before aggregation so the big scan aggregates only
    matching parts."""
    pts = (load(spark, sf_dir, "part")
           .filter(td.col("p_name").str.starts_with("small"))
           .select("p_partkey"))
    li = load(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey", "l_quantity", "l_shipdate")
    li_p = li.join(pts, left_on="l_partkey", right_on="p_partkey", how="semi")
    shipped = (
        li_p.filter(
            (td.col("l_shipdate") >= td.lit("1997-01-01").cast("timestamp"))
            & (td.col("l_shipdate") < td.lit("1998-01-01").cast("timestamp")))
        .group_by("l_suppkey", "l_partkey")
        .agg(qty97=td.col("l_quantity").sum())
    )
    total = li_p.group_by("l_partkey").agg(qty_all=td.col("l_quantity").sum())
    excess = (
        shipped.join(total, on="l_partkey")
        .filter(td.col("qty97") > td.col("qty_all") * 0.05)
        .select("l_suppkey")
    )
    out = (
        load(spark, sf_dir, "supplier")
        .join(excess, left_on="s_suppkey", right_on="l_suppkey", how="semi")
        .select("s_suppkey", "s_name")
        .sort(["s_name", "s_suppkey"])
    )
    return out.df


@q(
    "q21_waiting_suppliers",
    """
    WITH late AS (
        SELECT DISTINCT l.l_orderkey, l.l_suppkey
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    ),
    multi AS (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING COUNT(DISTINCT l_suppkey) > 1
    ),
    sole AS (
        SELECT l_orderkey FROM late GROUP BY l_orderkey HAVING COUNT(*) = 1
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM late la
    JOIN supplier s ON s.s_suppkey = la.l_suppkey
    WHERE la.l_orderkey IN (SELECT l_orderkey FROM multi)
      AND la.l_orderkey IN (SELECT l_orderkey FROM sole)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS / NOT EXISTS over sibling lineitems.  The
    schema has no commit/receipt dates, so "kept waiting" is shipdate >
    orderdate + 90 days.  EXISTS(other supplier) <=> order has >1 distinct
    supplier; NOT EXISTS(other late supplier) <=> order has exactly one
    distinct late supplier -- both become aggregates + semi joins (no
    per-row correlated rescans; 3 shuffles total at any scale)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    od = (load(spark, sf_dir, "orders")
          .filter(td.col("o_orderstatus") == "F")
          .select("o_orderkey", "o_orderdate"))
    late = (
        li.join(od, left_on="l_orderkey", right_on="o_orderkey")
        .filter(td.col("l_shipdate")
                > td.col("o_orderdate").dt.offset_by("90d"))
        .select("l_orderkey", "l_suppkey")
        .unique()
    )
    multi = (li.group_by("l_orderkey")
             .agg(ns=td.col("l_suppkey").n_unique())
             .filter(td.col("ns") > 1).select("l_orderkey"))
    sole = (late.group_by("l_orderkey")
            .agg(n=td.col("l_suppkey").len())
            .filter(td.col("n") == 1).select("l_orderkey"))
    out = (
        late.join(multi, on="l_orderkey", how="semi")
        .join(sole, on="l_orderkey", how="semi")
        .join(load(spark, sf_dir, "supplier").select("s_suppkey", "s_name"),
              left_on="l_suppkey", right_on="s_suppkey")
        .group_by("s_name")
        .agg(numwait=td.col("l_orderkey").len())
        .sort(["numwait", "s_name"], descending=[True, False])
    )
    return out.df


@q(
    "connected_components_star_docs",
    """
    WITH RECURSIVE e AS (
      SELECT a.doc_id AS s, a.doc_id + 1 AS t
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 100 < 49
    ),
    sym AS (SELECT s, t FROM e UNION SELECT t AS s, s AS t FROM e),
    nodes AS (SELECT DISTINCT s AS n FROM sym),
    walk(node, label) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT sym.t, walk.label FROM walk JOIN sym ON sym.s = walk.node
    )
    SELECT node AS doc_id, MIN(label) AS component
    FROM walk GROUP BY node
    """,
)
def connected_components_star_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via large-star/small-star contraction
    (llm/dedup.py:connected_components_star) on 50-node chains — a
    diameter that min-label propagation's default round budget cannot
    walk, converged here in O(log^2 n) rounds.  Oracle = DuckDB
    recursive CTE."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    ids = docs.select(F.col("doc_id").alias("id"))
    edges = (docs.filter(F.col("doc_id") % 100 < 49)
             .select(F.col("doc_id").alias("id_a"),
                     (F.col("doc_id") + 1).alias("id_b"))
             .join(ids, F.col("id_b") == F.col("id"), "left_semi"))
    comp = dedup.connected_components_star(edges)
    return comp.select(F.col("node").alias("doc_id"), "component")


# ===========================================================================
# training-data hygiene: PII redaction, deterministic splits, dedup report
# ===========================================================================
@q(
    "pii_redact",
    r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[PII]', 'g'),
               '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[PII]', 'g'),
             '\+?\d[\d\s().-]{7,}\d', '[PII]', 'g') AS redacted
    FROM documents
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing as chained JVM regexp_replace (llm/textual.py:
    redact_pii) — no UDF, codegen keeps it at scan speed; patterns are
    Java-regex/RE2-portable so any engine reproduces the redaction."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id",
                       textual.redact_pii(F.col("text")).alias("redacted"))


@q(
    "hash_split_docs",
    """
    SELECT doc_id,
           CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                AS BIGINT) % 100 AS INTEGER) AS bucket,
           CASE
             WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                  AS BIGINT) % 100 < 5 THEN 'test'
             WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                  AS BIGINT) % 100 < 10 THEN 'val'
             ELSE 'train'
           END AS split
    FROM documents
    """,
)
def hash_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (llm/textual.py:hash_split):
    md5-derived bucket, NOT engine hash internals — identical membership in
    Spark, DuckDB, or any downstream tool, stable under repartitioning and
    incremental appends."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    key = F.col("doc_id")
    return docs.select(
        "doc_id",
        textual.hash_split(key).alias("bucket"),
        textual.train_val_test(key).alias("split"),
    )


@q(
    "dedup_stats",
    r"""
    WITH f AS (
        SELECT source,
               md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        FROM documents)
    SELECT source, COUNT(*) AS docs, COUNT(DISTINCT fp) AS uniq,
           ROUND(1.0 - COUNT(DISTINCT fp) * 1.0 / COUNT(*), 6) AS dup_rate
    FROM f GROUP BY source ORDER BY source
    """,
)
def dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-rate report per source: corpus-health metric computed on the
    16-byte fingerprint (shuffle carries digests, not documents)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return (docs.select("source", F.md5(norm).alias("fp"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("docs"),
                 F.countDistinct("fp").alias("uniq"))
            .select("source", "docs", "uniq",
                    F.round(1.0 - F.col("uniq") / F.col("docs"), 6)
                     .alias("dup_rate"))
            .orderBy("source"))


@q(
    "pack_sequences",
    r"""
    WITH t AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                  AS BIGINT) % 8 AS shard,
             len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                             x -> x <> '')) AS n_tok
      FROM documents)
    SELECT doc_id, shard, n_tok,
           CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tok) / 2048.0)
                AS BIGINT) AS pack_bin
    FROM t
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: assign docs to fixed token-budget
    bins (2048) with a running-sum window.  Scale shape: packing is done
    PER SHARD (md5-derived, deterministic), so the window sort is
    partition-local — the global-order variant would funnel the corpus
    through one task.  Shard count scales with the cluster; bins are
    reproducible across engines and runs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_tok = textual.token_count(F.col("text"))
    base = docs.select(
        "doc_id",
        textual.hash_split(F.col("doc_id"), 8).cast("long").alias("shard"),
        n_tok.alias("n_tok"),
    )
    from pyspark.sql.window import Window
    w = (Window.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    start = F.sum("n_tok").over(w) - F.col("n_tok")
    return base.select(
        "doc_id", "shard", "n_tok",
        F.floor(start / 2048.0).cast("long").alias("pack_bin"),
    )


@q(
    "quality_bins",
    r"""
    WITH t AS (
      SELECT doc_id, lang,
             ROUND(LEAST(1.0, len(trim(text)) / 500.0), 6) AS q
      FROM documents)
    SELECT doc_id, lang, q,
           ntile(4) OVER (PARTITION BY lang ORDER BY q, doc_id) AS bin
    FROM t
    """,
)
def quality_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-style quality quartiles per language: ntile over a
    per-partition sort (never a global order — per-lang windows shuffle
    once on lang and sort locally).  Tie-broken on doc_id so bins are
    deterministic on both engines."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q_score = F.round(F.least(F.lit(1.0),
                              F.length(F.trim(F.col("text"))) / 500.0), 6)
    from pyspark.sql.window import Window
    w = Window.partitionBy("lang").orderBy("q", "doc_id")
    return (docs.select("doc_id", "lang", q_score.alias("q"))
            .withColumn("bin", F.ntile(4).over(w)))


# ===========================================================================
# Corpus indexing / retrieval queries (llm/corpus.py)
# ===========================================================================
_TOKS_CTE = """
    toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g')), '\\s+'),
                    x -> x <> '')) AS term
      FROM documents)
"""


@q(
    "vocab_top_terms",
    f"""
    WITH {_TOKS_CTE},
    v AS (
      SELECT term, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occurrences
      FROM toks GROUP BY term)
    SELECT term, n_docs, n_occurrences,
           CAST(row_number() OVER (ORDER BY n_occurrences DESC, term) AS INT) AS rank
    FROM v QUALIFY rank <= 40
    """,
)
def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary, top-40 terms: tokenize at scan speed, one shuffle
    on term with map-side combine, top-N via TakeOrderedAndProject."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from tabsdata_spark.llm import corpus
    return corpus.vocabulary(docs, top=40)


@q(
    "tfidf_top_terms",
    f"""
    WITH {_TOKS_CTE},
    tdf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dfc AS (SELECT term, COUNT(*) AS df FROM tdf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_total FROM documents)
    SELECT tdf.doc_id AS doc_id, tdf.term AS term, tf, df,
           ROUND(tf * ln(CAST(n_total AS DOUBLE) / df), 6) AS tfidf,
           CAST(row_number() OVER (PARTITION BY tdf.doc_id
                ORDER BY ROUND(tf * ln(CAST(n_total AS DOUBLE) / df), 6) DESC,
                         tdf.term) AS INT) AS term_rank
    FROM tdf JOIN dfc ON dfc.term = tdf.term, n
    QUALIFY term_rank <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document: posting list + broadcast df/N,
    per-doc window for the top-k."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from tabsdata_spark.llm import corpus
    return corpus.tf_idf(docs, top_per_doc=3)


@q(
    "bm25_docs",
    f"""
    WITH {_TOKS_CTE},
    tdf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
            WHERE term IN ('join', 'vector', 'stream', 'window')
            GROUP BY doc_id, term),
    dfc AS (SELECT term, COUNT(*) AS df FROM tdf GROUP BY term),
    dl AS (SELECT doc_id,
                  len(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g')), '\\s+'),
                      x -> x <> '')) AS dl
           FROM documents),
    st AS (SELECT COUNT(*) AS n_total,
                  AVG(len(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g')), '\\s+'),
                      x -> x <> ''))) AS avgdl
           FROM documents)
    SELECT tdf.doc_id AS doc_id,
           ROUND(SUM(ln((n_total - df + 0.5) / (df + 0.5) + 1)
                     * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS bm25
    FROM tdf JOIN dfc ON dfc.term = tdf.term
             JOIN dl ON dl.doc_id = tdf.doc_id, st
    GROUP BY tdf.doc_id
    """,
)
def bm25_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance against a fixed query bag; postings filtered to the
    query terms before any join, so fan-in is |query|*df not corpus-sized."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from tabsdata_spark.llm import corpus
    return corpus.bm25(docs, ["join", "vector", "stream", "window"])


@q(
    "doc_chunks",
    """
    SELECT doc_id,
           CAST(start // 150 AS INT) AS chunk_idx,
           CAST(start AS INT) AS chunk_start,
           length(substring(coalesce(text, ''), CAST(start AS INT) + 1, 200)) AS chunk_len,
           md5(substring(coalesce(text, ''), CAST(start AS INT) + 1, 200)) AS chunk_md5
    FROM (SELECT doc_id, text,
                 unnest(generate_series(0, greatest(length(coalesce(text, '')) - 1, 0), 150)) AS start
          FROM documents)
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 200-char chunks at stride 150 — per-row posexplode, no
    shuffle; md5 keys the chunk for downstream exact-dedup."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from tabsdata_spark.llm import corpus
    out = corpus.chunk_documents(docs, size=200, stride=150)
    return out.withColumn("chunk_len", F.col("chunk_len").cast("long"))


@q(
    "ngram_repetition",
    """
    SELECT doc_id,
           CASE WHEN len(toks) >= 3
                THEN ROUND(1 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE), 6)
                ELSE 0.0 END AS dup3_frac
    FROM (SELECT doc_id, toks,
                 list_transform(range(1, len(toks) - 1),
                                i -> array_to_string(toks[i:i+2], ' ')) AS grams
          FROM (SELECT doc_id,
                       list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g')), '\\s+'),
                                   x -> x <> '') AS toks
                FROM documents))
    """,
)
def ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repeated-3-gram fraction per document — array
    expressions only, runs inside codegen at scan speed."""
    from tabsdata_spark.llm import corpus
    from tabsdata_spark.scale import fan_out

    # O(len^2) interpreted array work per row — fan the one-row-group test
    # file out to cluster width (no-op when the scan is already wide)
    docs = fan_out(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return docs.select(
        "doc_id",
        corpus.duplicate_ngram_fraction(F.col("text"), n=3).alias("dup3_frac"),
    )


@q(
    "stratified_sample_docs",
    """
    SELECT lang, COUNT(*) AS n_total,
           COUNT(*) FILTER (WHERE bucket < 25) AS n_sampled,
           ROUND(COUNT(*) FILTER (WHERE bucket < 25) / CAST(COUNT(*) AS DOUBLE), 6) AS sample_rate
    FROM (SELECT lang,
                 CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                      AS BIGINT) % 100 AS INTEGER) AS bucket
          FROM documents)
    GROUP BY lang
    """,
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 25% hash sample audited per language stratum:
    membership depends only on md5(doc_id), so the sample is stable under
    re-runs, repartitioning, and engine swaps."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from tabsdata_spark.llm import corpus
    sampled = corpus.stratified_sample(docs, "doc_id", 25)
    tot = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    smp = sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("n_sampled"))
    return (
        tot.join(smp, "lang", "left")
        .select(
            "lang", "n_total",
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
            F.round(F.coalesce("n_sampled", F.lit(0)) / F.col("n_total").cast("double"), 6)
             .alias("sample_rate"),
        )
    )


@q(
    "pivot_lang_counts",
    """
    SELECT source,
           COUNT(*) FILTER (WHERE lang = 'de') AS n_de,
           COUNT(*) FILTER (WHERE lang = 'en') AS n_en,
           COUNT(*) FILTER (WHERE lang = 'es') AS n_es,
           COUNT(*) FILTER (WHERE lang = 'fr') AS n_fr,
           COUNT(*) FILTER (WHERE lang = 'zh') AS n_zh
    FROM documents GROUP BY source
    """,
)
def pivot_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native pivot with explicit values (no extra distinct-values job —
    a silent scale trap when the pivot column has unknown cardinality);
    absent cells coalesced to 0 for engine parity."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    langs = ["de", "en", "es", "fr", "zh"]
    p = docs.groupBy("source").pivot("lang", langs).agg(F.count(F.lit(1)))
    return p.select(
        "source",
        *[F.coalesce(F.col(l), F.lit(0)).cast("long").alias(f"n_{l}") for l in langs],
    )


@q(
    "unpivot_part_metrics",
    """
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value
    FROM part WHERE p_partkey % 10 = 0
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, CAST(p_retailprice AS DOUBLE) AS value
    FROM part WHERE p_partkey % 10 = 0
    """,
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long melt via the native DataFrame.unpivot (Spark 3.4+) — a
    zero-shuffle projection (each row fans out locally)."""
    pt = (spark.read.parquet(f"{sf_dir}/part.parquet")
          .filter((F.col("p_partkey") % 10) == 0)
          .select("p_partkey",
                  F.col("p_size").cast("double").alias("p_size"),
                  F.col("p_retailprice").cast("double").alias("p_retailprice")))
    return pt.unpivot(["p_partkey"], ["p_size", "p_retailprice"], "metric", "value")


@q(
    "percentrank_cumedist_events",
    """
    SELECT event_id, event_type,
           ROUND(percent_rank() OVER w, 6) AS prk,
           ROUND(cume_dist() OVER w, 6) AS cd
    FROM events
    WHERE event_type IN ('click', 'purchase')
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
)
def percentrank_cumedist_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist per event_type — one shuffle on the
    partition key, local sort; unique (value, event_id) order keeps ranks
    deterministic across engines."""
    from pyspark.sql.window import Window
    ev = load_events(spark, sf_dir).df.filter(
        F.col("event_type").isin("click", "purchase"))
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id", "event_type",
        F.round(F.percent_rank().over(w), 6).alias("prk"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@q(
    "lead_gap_events",
    """
    SELECT user_id, event_id,
           lead(event_id) OVER w AS next_event_id,
           epoch_us(lead(CAST(ts AS TIMESTAMP)) OVER w)
             - epoch_us(CAST(ts AS TIMESTAMP)) AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    """,
)
def lead_gap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap via lead() — the building block for
    session statistics; micros arithmetic avoids truncation divergence
    between engines."""
    from pyspark.sql.window import Window
    ev = load_events(spark, sf_dir).df
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "event_id",
        F.lead("event_id").over(w).alias("next_event_id"),
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts")))
        .alias("gap_us"),
    )


# ===========================================================================
# Deterministic statistics / JSON / graph queries (stats.py, graph.py)
# ===========================================================================
@q(
    "json_extract_events",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
           ROUND(SUM(CAST(props->>'k' AS BIGINT)) / CAST(COUNT(*) AS DOUBLE), 6) AS avg_k
    FROM events GROUP BY event_type
    """,
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction (get_json_object, JVM-side jsonpath — no
    UDF) + integer-exact aggregation."""
    ev = load_events(spark, sf_dir).df
    k = F.get_json_object("props", "$.k").cast("long")
    return (ev.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("k").alias("sum_k"),
                 F.round(F.sum("k") / F.count(F.lit(1)).cast("double"), 6)
                  .alias("avg_k")))


@q(
    "stats_variance_events",
    """
    WITH a AS (
      SELECT event_type, COUNT(value) AS n,
             SUM(CAST(value AS DECIMAL(18,6))) AS s1,
             SUM(CAST(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)) AS DECIMAL(38,12))) AS s2
      FROM events GROUP BY event_type)
    SELECT event_type, n,
           ROUND(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean,
           ROUND((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) - 1), 6) AS var_samp,
           ROUND(sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) - 1)), 6) AS stddev_samp
    FROM a
    """,
)
def stats_variance_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent variance/stddev: exact decimal moment sums, then
    the closed form in double — stable under any partitioning (the
    built-in stddev aggregates doubles in partition order and drifts in
    the last ulp at 1000 executors)."""
    from tabsdata_spark import stats
    ev = load_events(spark, sf_dir).df
    return stats.exact_variance(ev, "value", ["event_type"])


@q(
    "corr_value_k_events",
    """
    WITH b AS (
      SELECT event_type, value, CAST(props->>'k' AS BIGINT) AS k FROM events
      WHERE value IS NOT NULL AND (props->>'k') IS NOT NULL),
    a AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(18,6))) AS sx,
             SUM(CAST(k AS DECIMAL(18,6))) AS sy,
             SUM(CAST(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)) AS DECIMAL(38,12))) AS sx2,
             SUM(CAST(CAST(k AS DECIMAL(18,6)) * CAST(k AS DECIMAL(18,6)) AS DECIMAL(38,12))) AS sy2,
             SUM(CAST(CAST(value AS DECIMAL(18,6)) * CAST(k AS DECIMAL(18,6)) AS DECIMAL(38,12))) AS sxy
      FROM b GROUP BY event_type)
    SELECT event_type, n,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS corr
    FROM a
    """,
)
def corr_value_k_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from exact decimal cross-moments — same
    determinism argument as stats_variance_events."""
    from tabsdata_spark import stats
    ev = load_events(spark, sf_dir).df
    k = F.get_json_object("props", "$.k").cast("long")
    return stats.exact_corr(ev.select("event_type", "value", k.alias("k")),
                            "value", "k", ["event_type"])


@q(
    "mode_event_type_per_user",
    """
    SELECT user_id, event_type AS mode, cnt AS mode_count
    FROM (SELECT user_id, event_type, COUNT(*) AS cnt,
                 row_number() OVER (PARTITION BY user_id
                      ORDER BY COUNT(*) DESC, event_type) AS rn
          FROM events GROUP BY user_id, event_type)
    WHERE rn = 1
    """,
)
def mode_event_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode (count desc, value asc tie-break) —
    built-in mode() resolves ties arbitrarily, i.e. differently per run
    under repartitioning."""
    from tabsdata_spark import stats
    ev = load_events(spark, sf_dir).df
    return stats.deterministic_mode(ev, "event_type", ["user_id"])


@q(
    "listagg_user_event_types",
    """
    SELECT user_id,
           array_to_string(list_sort(list_distinct(list(event_type))), ',') AS types,
           len(list_distinct(list(event_type))) AS n_types
    FROM events WHERE user_id % 20 = 0 GROUP BY user_id
    """,
)
def listagg_user_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/list aggregation made deterministic: collect_set -> sort ->
    join (listagg without ORDER BY is partition-order-dependent)."""
    ev = load_events(spark, sf_dir).df.filter((F.col("user_id") % 20) == 0)
    types = F.array_sort(F.collect_set("event_type"))
    return (ev.groupBy("user_id")
            .agg(F.array_join(types, ",").alias("types"),
                 F.size(types).cast("long").alias("n_types")))


@q(
    "histogram_event_values",
    """
    SELECT bucket, COUNT(*) AS n,
           ROUND(CAST(bucket * 50.0 AS DOUBLE), 6) AS bucket_lo,
           ROUND(CAST((bucket + 1) * 50.0 AS DOUBLE), 6) AS bucket_hi
    FROM (SELECT LEAST(GREATEST(CAST(FLOOR((value - 0.0) / 50.0) AS INT), 0), 9) AS bucket
          FROM events)
    GROUP BY bucket
    """,
)
def histogram_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-range histogram: floor-division projection + a <=10-group
    count — single pass, no data-driven min/max pre-scan."""
    from tabsdata_spark import stats
    ev = load_events(spark, sf_dir).df
    return stats.histogram(ev, "value", lo=0.0, hi=500.0, buckets=10)


@q(
    "pagerank_event_transitions",
    """
    WITH seq AS (
      SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                  ORDER BY CAST(ts AS TIMESTAMP), event_id) AS dst
      FROM events),
    e AS (SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS w
          FROM seq WHERE dst IS NOT NULL GROUP BY src, dst),
    outw AS (SELECT src, SUM(w) AS out_w FROM e GROUP BY src),
    t AS (SELECT e.src AS src, e.dst AS dst, e.w / outw.out_w AS p
          FROM e JOIN outw ON outw.src = e.src),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT COUNT(*) AS n_total FROM nodes),
    r0 AS (SELECT node, 1.0 / n_total AS rank, n_total FROM nodes, nn),
    r1 AS (SELECT r.node AS node,
                  (1.0 - 0.85) / r.n_total + 0.85 * COALESCE(m.mass, 0.0) AS rank,
                  r.n_total AS n_total
           FROM r0 r LEFT JOIN (SELECT t.dst AS node, SUM(r0.rank * t.p) AS mass
                                FROM t JOIN r0 ON r0.node = t.src GROUP BY t.dst) m
           ON m.node = r.node),
    r2 AS (SELECT r.node AS node,
                  (1.0 - 0.85) / r.n_total + 0.85 * COALESCE(m.mass, 0.0) AS rank,
                  r.n_total AS n_total
           FROM r1 r LEFT JOIN (SELECT t.dst AS node, SUM(r1.rank * t.p) AS mass
                                FROM t JOIN r1 ON r1.node = t.src GROUP BY t.dst) m
           ON m.node = r.node),
    r3 AS (SELECT r.node AS node,
                  (1.0 - 0.85) / r.n_total + 0.85 * COALESCE(m.mass, 0.0) AS rank,
                  r.n_total AS n_total
           FROM r2 r LEFT JOIN (SELECT t.dst AS node, SUM(r2.rank * t.p) AS mass
                                FROM t JOIN r2 ON r2.node = t.src GROUP BY t.dst) m
           ON m.node = r.node)
    SELECT node, ROUND(rank, 6) AS rank FROM r3
    """,
)
def pagerank_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the event-type transition graph (edges = consecutive
    events per user, weighted by transition count).  3 unrolled power
    iterations; integer-valued double weights keep out-degree sums exact
    in any order."""
    from pyspark.sql.window import Window
    from tabsdata_spark import graph
    ev = load_events(spark, sf_dir).df
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(F.col("event_type").alias("src"),
                    F.lead("event_type").over(w).alias("dst"))
    edges = (seq.filter(F.col("dst").isNotNull())
             .groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w")))
    # the transition table is |event_types|^2-bounded, so the iteration
    # fast path (driver recursion over the collected bounded edge table —
    # the markov_attribution precedent) applies at any corpus size; the
    # threshold keeps the distributed path for unbounded callers
    return graph.pagerank(edges, iterations=3, damping=0.85, weight="w",
                          driver_threshold=10_000)


# ===========================================================================
# coverage batch 5 (r2): training-data hygiene suite — decontamination,
# boilerplate detection, deterministic mixture sampling, vocabulary
# overlap, composite quality gate, semantic dedup
# ===========================================================================

def _shingle_cte(n: int, name: str) -> str:
    """DuckDB distinct word `n`-gram CTE matching llm.dedup.shingles(text,
    n); docs shorter than `n` tokens fall back to the whole text."""
    return f"""
    {name} AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= {n}
                  THEN list_transform(range(1, len(toks) - {n - 2}),
                       i -> array_to_string(toks[i:i+{n - 1}], ' '))
                  ELSE [array_to_string(toks, ' ')] END) AS grams
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS toks
            FROM documents)
    )
"""


_SHINGLE5_CTE = _shingle_cte(5, "sh5")


@q(
    "decontaminate_docs",
    f"""
    WITH {_shingle_cte(4, "sh4")},
    g AS (SELECT doc_id, unnest(grams) AS gram FROM sh4),
    bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 29 = 1)
    SELECT g.doc_id AS doc_id, COUNT(*) AS n_contaminated_grams
    FROM g JOIN bg USING (gram)
    WHERE g.doc_id % 29 <> 1
    GROUP BY g.doc_id
    """,
)
def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix recipe): flag training
    docs sharing any distinct 4-gram with the held-out benchmark slice
    (doc_id % 29 == 1 stands in for an eval set; 4-grams because the
    synthetic corpus's 5-gram overlap is empty at sf>=0.01 — a vacuous
    check).  Benchmark gram set is broadcast; the corpus side shuffles
    only for the final per-doc agg."""
    from tabsdata_spark.llm import decontam
    from tabsdata_spark.scale import fan_out

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 29 == 1)
    # shingling is compute-bound (O(len) array/hash work per row): fan the
    # one-row-group test file out to cluster width (no-op at real scale)
    train = fan_out(docs.filter(F.col("doc_id") % 29 != 1))
    return decontam.contamination(train, bench, n=4, min_hits=1)


@q(
    "boilerplate_ngrams_docs",
    f"""
    WITH {_SHINGLE5_CTE},
    g AS (SELECT doc_id, unnest(grams) AS gram FROM sh5)
    SELECT gram, COUNT(*) AS n_docs
    FROM g GROUP BY gram HAVING COUNT(*) >= 2
    """,
)
def boilerplate_ngrams_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus boilerplate: 5-grams appearing in >= 2 distinct documents.
    One explode + map-side-combined groupBy; threshold prunes the unique
    tail before anything downstream."""
    from tabsdata_spark.llm import decontam
    from tabsdata_spark.scale import fan_out

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return decontam.boilerplate_ngrams(fan_out(docs), n=5, min_docs=2)


@q(
    "mixture_sample_docs",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
             CEIL((CASE WHEN source = 'src0' THEN 1.0
                        WHEN source = 'src1' THEN 0.1
                        ELSE 0.4 END)
                  * COUNT(*) OVER (PARTITION BY source)) AS quota
      FROM documents)
    WHERE rn <= quota
    """,
)
def mixture_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture re-weighting: exact per-source quotas
    (all of src0, 10% of src1, 40% elsewhere) selected by md5 order of the
    doc id — engine-portable, repartition-stable membership."""
    from tabsdata_spark.llm import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.mixture_sample(
        docs, strata_col="source", key_col="doc_id", fraction=0.4,
        overrides={"src0": 1.0, "src1": 0.1},
    ).select("doc_id", "source")


@q(
    "source_vocab_overlap_q",
    """
    WITH v AS (
      SELECT DISTINCT source AS src, unnest(toks) AS w
      FROM (SELECT source,
                   list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g')), '\\s+'), x -> x <> '') AS toks
            FROM documents)
    ),
    sizes AS (SELECT src, COUNT(*) AS nv FROM v GROUP BY src),
    shared AS (
      SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS n_shared
      FROM v a JOIN v b ON a.w = b.w AND a.src < b.src
      GROUP BY a.src, b.src
    )
    SELECT src_a, src_b, n_shared,
           ROUND(n_shared / CAST(sa.nv + sb.nv - n_shared AS DOUBLE), 6) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.src = shared.src_a
    JOIN sizes sb ON sb.src = shared.src_b
    """,
)
def source_vocab_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary jaccard between sources — corpus-mixture
    diagnostics.  The (stratum, word) distinct table is the only large
    intermediate; pair fan-out is bounded by strata count per word."""
    from tabsdata_spark.llm import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.source_vocab_overlap(docs, strata_col="source")


@q(
    "quality_gate_docs",
    """
    WITH toks AS (
      SELECT doc_id, lang = 'en' AS lang_ok, unnest(
        list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '')
      ) AS tok
      FROM documents
    ),
    per_tok AS (
      SELECT doc_id, lang_ok, tok, COUNT(*) AS c
      FROM toks GROUP BY doc_id, lang_ok, tok
    ),
    stats AS (
      SELECT doc_id, lang_ok, CAST(SUM(c) AS BIGINT) AS n_tokens, MAX(c) AS top_c
      FROM per_tok GROUP BY doc_id, lang_ok
    )
    SELECT doc_id, n_tokens,
           ROUND(top_c / CAST(n_tokens AS DOUBLE), 6) AS top_token_ratio,
           lang_ok,
           n_tokens BETWEEN 30 AND 400 AS len_ok,
           ROUND(top_c / CAST(n_tokens AS DOUBLE), 6) <= 0.15 AS rep_ok,
           lang_ok AND (n_tokens BETWEEN 30 AND 400)
                   AND (ROUND(top_c / CAST(n_tokens AS DOUBLE), 6) <= 0.15) AS keep
    FROM stats
    """,
)
def quality_gate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style composite keep/drop gate with per-rule flags (language,
    token band, single-token dominance) so drops are attributable."""
    from tabsdata_spark.llm import textual as tx

    docs = fan_out(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return tx.composite_quality_filter(docs)


@q(
    "semantic_dedup_keep",
    """
    WITH RECURSIVE e AS (
      SELECT a.vec_id AS u, b.vec_id AS v
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id <> b.vec_id
      WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3
    ),
    reach(u, v) AS (
      SELECT u, v FROM e
      UNION
      SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v
    ),
    comp AS (SELECT u AS node, LEAST(u, MIN(v)) AS component
             FROM reach GROUP BY u)
    SELECT vec_id, label FROM embeddings
    WHERE vec_id NOT IN (SELECT node FROM comp WHERE component < node)
    """,
)
def semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: cosine >= 0.3 pairs (label-blocked)
    -> connected components -> keep each cluster's min-id row.  Oracle is
    a recursive-CTE transitive closure — exact cluster semantics, not just
    pair counts."""
    from tabsdata_spark.llm import dedup as dd

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return dd.semantic_dedup(emb, block_col="label", threshold=0.3) \
        .select("vec_id", "label")


# ===========================================================================
# coverage batch 6 (r2): corpus statistics — unigram-LM surprisal
# (perplexity proxy), Gopher quality rules, Zipf rank-frequency fit
# ===========================================================================

#: DuckDB twin of llm.corpus.clean_tokens
_CLEAN_TOKS_SQL = ("list_filter(regexp_split_to_array(trim(regexp_replace("
                   "lower(text), '[^a-z0-9\\s]', '', 'g')), '\\s+'), "
                   "x -> x <> '')")


@q(
    "unigram_surprisal_docs",
    f"""
    WITH tdf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest({_CLEAN_TOKS_SQL}) AS term FROM documents)
      GROUP BY doc_id, term
    ),
    freq AS (SELECT term, SUM(tf) AS cf FROM tdf GROUP BY term),
    tot AS (SELECT SUM(cf) AS total FROM freq)
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
           ROUND(SUM(tf * (-log2(CAST(cf AS DOUBLE) / total))) / SUM(tf), 6)
               AS avg_surprisal
    FROM tdf JOIN freq USING (term), tot
    GROUP BY doc_id
    """,
)
def unigram_surprisal_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity proxy: token-weighted mean -log2 p(token)
    under the corpus's own unigram LM.  Both distribution tails are filter
    candidates (gibberish up, boilerplate down)."""
    from tabsdata_spark.llm import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.unigram_surprisal(docs)


@q(
    "gopher_rules_docs",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(toks) AS n_words,
             CASE WHEN len(toks) > 0 THEN ROUND(
                  CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
                  / len(toks), 6) ELSE 0.0 END AS mean_word_len,
             CASE WHEN len(toks) > 0 THEN ROUND(
                  CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
                       AS DOUBLE) / len(toks), 6) ELSE 0.0 END AS alpha_frac,
             len(list_filter(toks, t -> list_contains(
                  ['the','be','to','of','and','that','have','with'], t)))
                 AS stop_hits
      FROM t
    )
    SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_hits,
           n_words BETWEEN 50 AND 100000 AS words_ok,
           mean_word_len BETWEEN 3.0 AND 10.0 AS word_len_ok,
           alpha_frac >= 0.8 AS alpha_ok,
           stop_hits >= 2 AS stopword_ok,
           (n_words BETWEEN 50 AND 100000)
             AND (mean_word_len BETWEEN 3.0 AND 10.0)
             AND alpha_frac >= 0.8 AND stop_hits >= 2 AS keep
    FROM m
    """,
)
def gopher_rules_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rep-removal rules (public Rae et al. 2021 A1.1) with
    per-rule flags — one shuffle-free array-fold projection."""
    docs = fan_out(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return textual.gopher_quality_rules(docs)


@q(
    "zipf_slope_sources",
    f"""
    WITH freq AS (
      SELECT stratum, term, COUNT(*) AS cf
      FROM (SELECT source AS stratum, unnest({_CLEAN_TOKS_SQL}) AS term
            FROM documents)
      GROUP BY stratum, term
    ),
    ranked AS (
      SELECT stratum,
             ln(CAST(row_number() OVER (PARTITION BY stratum
                  ORDER BY cf DESC, term) AS DOUBLE)) AS lr,
             ln(CAST(cf AS DOUBLE)) AS lf
      FROM freq
    )
    SELECT stratum, COUNT(*) AS n_terms,
           ROUND(covar_pop(lr, lf) / var_pop(lr), 6) AS slope
    FROM ranked GROUP BY stratum
    """,
)
def zipf_slope_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf rank-frequency slope (natural text ~ -1; templated
    or generated text drifts) — least squares in closed form, window
    partitioned by stratum so ranking never global-sorts."""
    from tabsdata_spark.llm import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.zipf_slope(docs, strata_col="source")


# ===========================================================================
# coverage batch 7 (r2): versioned-table row diff — the "git for tables"
# operator the reference's version model implies (HEAD~n reads) but never
# ships as a service
# ===========================================================================


@q(
    "version_diff_docs",
    """
    WITH old AS (
      SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 7 <> 0
    ),
    new AS (
      SELECT doc_id,
             CASE WHEN doc_id % 11 = 1 THEN text || ' [edited]' ELSE text END AS text,
             lang, source
      FROM documents WHERE doc_id % 5 <> 0
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.doc_id IS NULL THEN 'added'
                ELSE 'changed' END AS status
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    WHERE n.doc_id IS NULL OR o.doc_id IS NULL OR o.text <> n.text
    """,
)
def version_diff_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff between two simulated versions of the documents
    table (v1 drops doc_id%7==0, v2 drops %5==0 and edits %11==1): one
    (key, status) row per added/removed/changed key.  Each side shuffles
    only (key, 64-bit digest) — payloads never move."""
    from tabsdata_spark.store.diff import table_diff

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    v1 = docs.filter(F.col("doc_id") % 7 != 0)
    v2 = (docs.filter(F.col("doc_id") % 5 != 0)
          .withColumn("text", F.when(F.col("doc_id") % 11 == 1,
                                     F.concat(F.col("text"),
                                              F.lit(" [edited]")))
                      .otherwise(F.col("text"))))
    return table_diff(v1, v2, key_cols=["doc_id"])


# ===========================================================================
# coverage batch 8 (r2): curation caps, incremental dedup, graph triangles,
# skew-rewrite queries, distributed k-means with a fully unrolled SQL oracle
# ===========================================================================


@q(
    "source_caps_docs",
    """
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id ASC)
               AS stratum_rank
      FROM documents
    )
    SELECT doc_id, source, n_chars, stratum_rank
    FROM ranked WHERE stratum_rank <= 15
    """,
)
def source_caps_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-cap curation: keep each source's top-15 documents by length
    (RefinedWeb-style per-domain quota).  One shuffle on source; the
    window never sees more than one stratum per partition."""
    from tabsdata_spark.llm import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.cap_per_stratum(
        docs, strata_col="source", order_col="n_chars", cap=15,
        tie_col="doc_id",
    ).select("doc_id", "source", "n_chars", "stratum_rank")


@q(
    "incremental_dedup_docs",
    """
    WITH norm AS (
      SELECT doc_id, lang, source,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
      FROM documents
    ),
    old_fp AS (SELECT DISTINCT fp FROM norm WHERE doc_id % 10 <> 0),
    batch AS (SELECT * FROM norm WHERE doc_id % 10 = 0),
    fresh AS (
      SELECT b.* FROM batch b ANTI JOIN old_fp o ON b.fp = o.fp
    )
    SELECT doc_id, lang, source FROM fresh f
    WHERE doc_id = (SELECT MIN(doc_id) FROM fresh g WHERE g.fp = f.fp)
    """,
)
def incremental_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: a new batch (doc_id%10==0) is checked
    against the already-ingested corpus by normalized-content md5; batch
    rows colliding with the corpus or with an earlier batch row are
    dropped.  Joins move 16-byte digests, never text."""
    from tabsdata_spark.llm import dedup as dd

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus_side = docs.filter(F.col("doc_id") % 10 != 0)
    return dd.incremental_dedup(batch, corpus_side) \
        .select("doc_id", "lang", "source")


@q(
    "triangle_count_emb",
    """
    WITH e AS (
      SELECT LEAST(a.vec_id, b.vec_id) AS u, GREATEST(a.vec_id, b.vec_id) AS v
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.2
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1 JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    nodes AS (
      SELECT a AS node FROM tri UNION ALL
      SELECT b FROM tri UNION ALL
      SELECT c FROM tri
    )
    SELECT node, COUNT(*) AS triangles FROM nodes GROUP BY node
    """,
)
def triangle_count_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts of the cosine>=0.2 similarity graph
    (label-blocked) — the clustering-coefficient primitive for corpus
    graph diagnostics.  Degree-ordered orientation bounds the wedge
    fan-out of hub nodes (curse-of-the-last-reducer fix)."""
    from tabsdata_spark.llm import dedup as dd

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = dd.embedding_near_dup_pairs(
        emb, id_col="vec_id", block_col="label", threshold=0.2)
    return dd.triangle_count(pairs)


@q(
    "salted_user_revenue",
    """
    SELECT t.tier,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM events e
    JOIN (SELECT DISTINCT user_id, user_id % 5 AS tier FROM events) t
      ON e.user_id = t.user_id
    GROUP BY t.tier
    """,
)
def salted_user_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof join: events joined to a per-user tier dim through
    scale.salted_join (hot users spread over 16 salt buckets), then a
    tier rollup.  Result is bit-identical to the plain join — salting
    only changes row routing."""
    from tabsdata_spark.scale import salted_join

    ev = load_events(spark, sf_dir).to_spark()
    dim = (ev.select("user_id").distinct()
           .withColumn("tier", F.col("user_id") % 5))
    joined = salted_join(ev.select("user_id", "value"), dim,
                         on=["user_id"], how="inner", salt=16)
    return (joined.groupBy("tier")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                  .cast("double").alias("revenue")))


@q(
    "distinct_users_by_type",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct
    FROM events GROUP BY event_type
    """,
)
def distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) via the two-phase skew-proof rewrite: map-side
    dedup on (event_type, user_id) spreads a hot type's distinct set
    across the cluster before the per-type count."""
    from tabsdata_spark.scale import two_phase_count_distinct

    ev = load_events(spark, sf_dir).to_spark()
    return two_phase_count_distinct(ev, "event_type", "user_id")


#: k-means oracle: the SAME deterministic algorithm unrolled in SQL —
#: seeds = 8 smallest vec_ids, 2 Lloyd iterations, distances and centroid
#: elements rounded to 6dp each step (keeps both engines' float paths
#: aligned), argmin ties to the smaller seed id.
_KMEANS_ORACLE = """
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    c0 AS (SELECT vec_id AS cid, e AS c FROM emb
           WHERE vec_id IN (SELECT vec_id FROM emb ORDER BY vec_id LIMIT 8)),
    d1 AS (
      SELECT emb.vec_id, c0.cid,
             ROUND(list_sum(list_transform(list_zip(emb.e, c0.c),
                    p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS dist
      FROM emb CROSS JOIN c0
    ),
    a1 AS (
      SELECT vec_id, cid AS cluster, dist FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cid) AS rn FROM d1
      ) WHERE rn = 1
    ),
    c1 AS (
      SELECT cluster AS cid, list(m ORDER BY i) AS c FROM (
        SELECT cluster, i, ROUND(AVG(x), 6) AS m FROM (
          SELECT a1.cluster, unnest(emb.e) AS x,
                 unnest(generate_series(1, len(emb.e))) AS i
          FROM a1 JOIN emb ON emb.vec_id = a1.vec_id
        ) GROUP BY cluster, i
      ) GROUP BY cluster
    ),
    d2 AS (
      SELECT emb.vec_id, c1.cid,
             ROUND(list_sum(list_transform(list_zip(emb.e, c1.c),
                    p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS dist
      FROM emb CROSS JOIN c1
    ),
    a2 AS (
      SELECT vec_id, cid AS cluster, dist FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cid) AS rn FROM d2
      ) WHERE rn = 1
    ),
    c2 AS (
      SELECT cluster AS cid, list(m ORDER BY i) AS c FROM (
        SELECT cluster, i, ROUND(AVG(x), 6) AS m FROM (
          SELECT a2.cluster, unnest(emb.e) AS x,
                 unnest(generate_series(1, len(emb.e))) AS i
          FROM a2 JOIN emb ON emb.vec_id = a2.vec_id
        ) GROUP BY cluster, i
      ) GROUP BY cluster
    ),
    d3 AS (
      SELECT emb.vec_id, c2.cid,
             ROUND(list_sum(list_transform(list_zip(emb.e, c2.c),
                    p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS dist
      FROM emb CROSS JOIN c2
    )
    SELECT vec_id, cid AS cluster, dist FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY dist, cid) AS rn FROM d3
    ) WHERE rn = 1
"""


@q("kmeans_clusters_emb", _KMEANS_ORACLE)
def kmeans_clusters_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means (k=8, 2 iterations, deterministic seed =
    8 smallest ids).  Per iteration: broadcast centroid model out, narrow
    argmin assignment, one k*dim-partial elementwise-mean shuffle back —
    driver traffic is the centroid matrix only.  Oracle = the identical
    algorithm unrolled as SQL CTEs."""
    from tabsdata_spark.llm import cluster

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cluster.kmeans(emb, k=8, iters=2)


# ===========================================================================
# DSIR importance resampling (llm/dsir.py)
# ===========================================================================
_DSIR_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(regexp_replace(lower(text),
                  '[^a-z0-9\\s]', '', 'g')), '\\s+'), x -> x <> '') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 2
                  THEN list_transform(range(1, len(t)),
                       i -> array_to_string(t[i:i+1], ' '))
                  ELSE [array_to_string(t, ' ')] END AS g
      FROM toks
    ),
    feats AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substring(md5(gram), 1, 6)) AS BIGINT)
                  % 10000 AS INTEGER) AS bucket
      FROM (SELECT doc_id, unnest(g) AS gram FROM grams)
      WHERE gram <> ''
    ),
    t_counts AS (SELECT bucket, COUNT(*) AS cnt FROM feats
                 WHERE doc_id % 31 = 2 GROUP BY bucket),
    r_counts AS (SELECT bucket, COUNT(*) AS cnt FROM feats
                 WHERE doc_id % 31 <> 2 GROUP BY bucket),
    totals AS (SELECT (SELECT SUM(cnt) FROM t_counts) AS t_total,
                      (SELECT SUM(cnt) FROM r_counts) AS r_total),
    ratio AS (
      SELECT COALESCE(t.bucket, r.bucket) AS bucket,
             ln((COALESCE(t.cnt, 0) + 1.0) / (tt.t_total + 1.0 * 10000))
             - ln((COALESCE(r.cnt, 0) + 1.0) / (tt.r_total + 1.0 * 10000))
             AS log_ratio
      FROM t_counts t FULL JOIN r_counts r ON t.bucket = r.bucket
      CROSS JOIN totals tt
    ),
    weights AS (
      SELECT f.doc_id, COUNT(*) AS n_features,
             ROUND(AVG(COALESCE(ratio.log_ratio, 0.0)), 6) AS weight
      FROM feats f LEFT JOIN ratio USING (bucket)
      WHERE f.doc_id % 31 <> 2
      GROUP BY f.doc_id
    )
    SELECT doc_id, n_features, weight FROM weights
    ORDER BY weight DESC, doc_id LIMIT 100
"""


@q("dsir_select_docs", _DSIR_ORACLE)
def dsir_select_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): hashed-bigram bag-of-buckets
    models for a target slice (doc_id % 31 == 2 stands in for the wanted
    domain) vs the raw pool; each raw doc scored by mean log-likelihood
    ratio; top-100 selected.  Bucket counts are two tiny aggregates; the
    log-ratio table broadcasts; the only corpus-wide shuffle is the
    per-doc weight sum; top-k is TakeOrderedAndProject.  Portable md5
    bucketing keeps selection membership engine-independent."""
    from tabsdata_spark.llm import dsir
    from tabsdata_spark.scale import fan_out

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = docs.filter(F.col("doc_id") % 31 == 2)
    raw = fan_out(docs.filter(F.col("doc_id") % 31 != 2))
    return dsir.dsir_select(raw, target, k=100, n=2, buckets=10_000)


# ===========================================================================
# Window/sketch extensions: ntile, grouping sets, HLL/approx invariants
# ===========================================================================
@q(
    "ntile_customers",
    """
    SELECT c_custkey, c_mktsegment,
           ntile(4) OVER (PARTITION BY c_mktsegment
                          ORDER BY c_acctbal DESC, c_custkey) AS balance_quartile
    FROM customer
    """,
)
def ntile_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment balance quartiles via ntile — the standard cohort
    bucketing window.  Partitioned window: one shuffle on mktsegment, no
    global ordering."""
    from pyspark.sql.window import Window

    cust = load(spark, sf_dir, "customer").df
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey"))
    return cust.select(
        "c_custkey", "c_mktsegment",
        F.ntile(4).over(w).alias("balance_quartile"))


@q(
    "grouping_sets_revenue",
    """
    SELECT o_orderpriority, o_orderstatus,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END
             + CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END AS agg_level
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), (o_orderstatus))
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (extension; beyond rollup/cube).  Spark
    plans ONE Expand + single aggregate over all three groupings — no
    per-level re-scan of orders.  agg_level derives from the null pattern
    so the oracle needs no GROUPING() portability."""
    orders = load(spark, sf_dir, "orders").df
    orders.createOrReplaceTempView("__gs_orders")
    return spark.sql("""
        SELECT o_orderpriority, o_orderstatus,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue,
               CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END
                 + CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END
                 AS agg_level
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), (o_orderstatus))
    """)


@q(
    "approx_distinct_invariant",
    """
    SELECT 'events' AS src, event_type AS grp,
           COUNT(DISTINCT user_id) AS exact_distinct,
           TRUE AS approx_within_5pct
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'documents' AS src, source AS grp,
           COUNT(DISTINCT n_chars) AS exact_distinct,
           TRUE AS approx_within_5pct
    FROM documents GROUP BY source
    """,
)
def approx_distinct_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ cardinality with a falsifiable invariant oracle,
    anchored per SOURCE table: events (user_id by event_type) and
    documents (n_chars by source) each emit the exact COUNT DISTINCT as a
    hash-compared value and whether approx_count_distinct(rsd=2%) landed
    within 5% of it — a sketch regression on either source flips a value
    the driver hash-compares.  (Raw sketch estimates are engine-specific
    and can never be value-oracled directly.)  At scale the approx path is
    one map-side sketch merge — no distinct expansion shuffle."""
    def invariant(df, src, grp_col, val_col):
        agg = df.groupBy(F.col(grp_col).alias("grp")).agg(
            F.countDistinct(val_col).alias("exact_distinct"),
            F.approx_count_distinct(val_col, rsd=0.02).alias("__approx"))
        return agg.select(
            F.lit(src).alias("src"), "grp", "exact_distinct",
            (F.abs(F.col("__approx") - F.col("exact_distinct"))
             <= 0.05 * F.col("exact_distinct")).alias("approx_within_5pct"))

    ev = load_events(spark, sf_dir).df
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return invariant(ev, "events", "event_type", "user_id").unionAll(
        invariant(docs, "documents", "source", "n_chars"))


@q(
    "approx_quantile_invariant",
    """
    SELECT 'events' AS src, event_type AS grp,
           ROUND(quantile_cont(value, 0.5), 6) AS exact_p50,
           TRUE AS approx_within_band
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'documents' AS src, source AS grp,
           ROUND(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 6) AS exact_p50,
           TRUE AS approx_within_band
    FROM documents GROUP BY source
    """,
)
def approx_quantile_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate median held to a rank-accuracy band,
    anchored per SOURCE table (events.value by event_type, documents.
    n_chars by source): each row hash-compares the exact p50 value and
    whether percentile_approx(.., 0.5, acc=10000) falls between the exact
    48th and 52nd percentiles.  Sketch estimates aren't portable; the
    exact anchor and band membership are."""
    def invariant(df, src, grp_col, val_col):
        agg = df.groupBy(F.col(grp_col).alias("grp")).agg(
            F.expr(f"round(percentile({val_col}, 0.5), 6)").alias("exact_p50"),
            F.expr(f"percentile_approx({val_col}, 0.5, 10000)").alias("__approx"),
            F.expr(f"percentile({val_col}, 0.48)").alias("__lo"),
            F.expr(f"percentile({val_col}, 0.52)").alias("__hi"))
        return agg.select(
            F.lit(src).alias("src"), "grp", "exact_p50",
            ((F.col("__approx") >= F.col("__lo"))
             & (F.col("__approx") <= F.col("__hi"))).alias("approx_within_band"))

    ev = load_events(spark, sf_dir).df
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return invariant(ev, "events", "event_type", "value").unionAll(
        invariant(docs, "documents", "source", "n_chars"))


_REPEATED_SPANS_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 8
                  THEN list_transform(range(1, len(t) - 6),
                       i -> array_to_string(t[i:i+7], ' '))
                  ELSE [array_to_string(t, ' ')] END) AS gram
      FROM toks
    ),
    sel AS (
      SELECT DISTINCT doc_id, h FROM (
        SELECT doc_id, {_HASH60_SQL.format(v='gram')} AS h FROM grams)
      WHERE h % 4 = 0
    ),
    capped AS (
      SELECT doc_id, h FROM (
        SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS nd FROM sel)
      WHERE nd > 1 AND nd <= 100
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           COUNT(*) AS n_shared_spans
    FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 1
"""


@q("repeated_spans_docs", _REPEATED_SPANS_ORACLE)
def repeated_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document verbatim-span duplication (ExactSubstr-lite, Lee et
    al. 2022): mod-p-selected 8-token-gram fingerprints joined through an
    inverted index; pair score = shared selected spans.  Portable
    md5-derived hashes make selection membership engine-independent; the
    boilerplate cap bounds the within-span pair fan-out."""
    from tabsdata_spark.llm import dedup
    from tabsdata_spark.llm.textual import portable_hash60
    from tabsdata_spark.scale import fan_out

    docs = fan_out(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return dedup.repeated_span_pairs(
        docs, n=8, p=4, min_shared=1, max_docs_per_span=100,
        hash_fn=portable_hash60)


@q(
    "asof_nearest_events",
    """
    SELECT event_id, user_id, ts, view_ts, view_event FROM (
      SELECT l.event_id, l.user_id, CAST(l.ts AS TIMESTAMP) AS ts,
             CAST(r.ts AS TIMESTAMP) AS view_ts, r.event_id AS view_event,
             row_number() OVER (
               PARTITION BY l.event_id
               ORDER BY abs(epoch_us(CAST(l.ts AS TIMESTAMP))
                            - epoch_us(CAST(r.ts AS TIMESTAMP))),
                        CAST(r.ts AS TIMESTAMP), r.event_id) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'click') l
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
        ON l.user_id = r.user_id)
    WHERE rn = 1
    """,
)
def asof_nearest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, `nearest` strategy: each click matched to the user's
    closest view in either direction (ties -> the earlier/backward view,
    pandas merge_asof semantics).  Same one-shuffle union plan as
    backward/forward with a second sort for the reverse fill; the O(n^2)
    per-key all-pairs oracle is viable only at sf0.01."""
    from tabsdata_spark.extensions import asof_join

    ev = load_events(spark, sf_dir).df
    clicks = ev.filter(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view") \
        .select(F.col("event_id").alias("view_event"), "user_id", "ts")
    out = asof_join(clicks, views, on="ts", by="user_id", strategy="nearest")
    return out.select("event_id", "user_id", "ts",
                      F.col("ts_right").alias("view_ts"), "view_event")


# ===========================================================================
# round-3 additions (registered AFTER the rotation window on purpose)
# ===========================================================================
@q(
    "segment_dedup_docs",
    """
    WITH w AS (
      SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS words
      FROM documents),
    idx AS (
      SELECT doc_id, words,
             CAST(UNNEST(range(0, GREATEST(CAST(CEIL(len(words)/20.0)
                                                AS BIGINT), 1))) AS INT)
               AS seg_idx
      FROM w),
    segs AS (
      SELECT doc_id, seg_idx,
             array_to_string(words[seg_idx*20+1 : (seg_idx+1)*20], ' ') AS seg
      FROM idx),
    kept AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY seg
                                   ORDER BY doc_id, seg_idx) AS rn
      FROM segs),
    rebuilt AS (
      SELECT doc_id, COUNT(*) AS segs_kept,
             string_agg(seg, ' ' ORDER BY seg_idx) AS text_dedup
      FROM kept WHERE rn = 1 GROUP BY doc_id),
    totals AS (SELECT doc_id, COUNT(*) AS segs_total FROM segs GROUP BY doc_id)
    SELECT t.doc_id, t.segs_total,
           COALESCE(r.segs_kept, 0) AS segs_kept,
           COALESCE(r.text_dedup, '') AS text_dedup
    FROM totals t LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def segment_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup (C4/RefinedWeb line dedup, 20-word
    segments): keep each segment's first occurrence corpus-wide, rebuild
    documents from survivors.  See llm/dedup.py:segment_dedup for the
    100 TB shuffle analysis."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.segment_dedup(docs)


@q(
    "video_frames_decode",
    """
    WITH f AS (
      SELECT doc_id,
             CAST(UNNEST(range(0, 2 + doc_id % 4)) AS INT) AS frame_idx
      FROM documents WHERE doc_id < 60
    )
    SELECT doc_id, frame_idx,
           CAST(6 + doc_id % 5 AS INTEGER) AS width,
           CAST(3 + doc_id % 4 AS INTEGER) AS height,
           ROUND(((doc_id * 31 + frame_idx * 17) % 256) / 255.0, 6) AS mean_luma,
           CAST(0.0 AS DOUBLE) AS luma_std
    FROM f
    """,
)
def video_frames_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode, value-oracled: each doc gets an uncompressed AVI
    whose frame count, dimensions, and per-frame solid gray level are
    closed-form in (doc_id, frame_idx); the query runs the full video
    pipeline — container encode (executor-side), RIFF parse + frame
    sampling (multimodal.sample_frames -> standalone BMPs), then BMP
    decode/featurize per frame.  The oracle recomputes every value
    arithmetically, so a regression anywhere in the chain flips
    hash-compared values.  Solid frames => luma std exactly 0."""
    import pandas as pd

    from tabsdata_spark.llm import multimodal

    def make_avis(batches):
        import numpy as np

        from tabsdata_spark.llm import codecs

        for pdf in batches:
            payloads = []
            for i in pdf["doc_id"]:
                i = int(i)
                n, h, w = 2 + i % 4, 3 + i % 4, 6 + i % 5
                frames = np.empty((n, h, w, 3), dtype=np.uint8)
                for f in range(n):
                    frames[f] = (i * 31 + f * 17) % 256
                payloads.append(codecs.encode_avi(frames, fps=10))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    def decode_frames(batches):
        from tabsdata_spark.llm import codecs

        for pdf in batches:
            rows = []
            for i, fi, frame in zip(pdf["doc_id"], pdf["frame_idx"],
                                    pdf["frame"]):
                d = codecs.decode_bmp(bytes(frame))
                rows.append((int(i), int(fi), d["width"], d["height"],
                             d["features"][0], d["features"][3]))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "frame_idx", "width", "height", "mean_luma",
                "luma_std"])

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .filter(F.col("doc_id") < 60)
    bins = docs.select("doc_id").mapInPandas(
        make_avis, "doc_id long, payload binary")
    frames = multimodal.sample_frames(bins, max_frames=8)
    return frames.mapInPandas(
        decode_frames,
        "doc_id long, frame_idx int, width int, height int, "
        "mean_luma double, luma_std double")


# ===========================================================================
# round-3 additions (registered after the driver window; r4 rotation pool)
# ===========================================================================
@q(
    "bigram_lm_docs",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')), '\s+'),
                         x -> x <> '') AS toks
      FROM documents),
    bi AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i+1])) AS bigram
      FROM t WHERE len(toks) >= 2),
    db AS (SELECT doc_id, bigram, COUNT(*) AS tf FROM bi GROUP BY doc_id, bigram),
    c2 AS (SELECT bigram, split_part(bigram, ' ', 1) AS w1, SUM(tf) AS c2
           FROM db GROUP BY bigram),
    c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY w1),
    v AS (SELECT COUNT(*) AS v FROM c1),
    p AS (SELECT bigram, log2((c2 + 0.5) / (c1 + 0.5 * v)) AS logp
          FROM c2 JOIN c1 USING (w1) CROSS JOIN v)
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
           ROUND(-SUM(tf * logp) / SUM(tf), 6) AS cross_entropy,
           ROUND(POW(2.0, ROUND(-SUM(tf * logp) / SUM(tf), 6)), 4) AS perplexity
    FROM db JOIN p USING (bigram)
    GROUP BY doc_id
    """,
)
def bigram_lm_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM cross-entropy / perplexity filter (CCNet-style, one order
    above unigram_surprisal): add-k conditional probs trained on the corpus
    itself, token-weighted -log2 p per document.  llm/corpus.py
    bigram_lm_score; both LM joins are AQE-decided (bigram vocab grows with
    the corpus — never force-broadcast)."""
    from tabsdata_spark.llm import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.bigram_lm_score(docs)


_BLOOM_POS_SQL = """list_reduce(
      list_transform(regexp_extract_all(substr(md5(CAST(j AS VARCHAR) || '|' || gram), 1, 15), '.'),
                     c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT)),
      (a, b) -> a * 16 + b) % 65536"""


@q(
    "bloom_decontaminate_docs",
    rf"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         x -> x <> '') AS toks
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 5
                  THEN list_transform(range(1, len(toks) - 3),
                       i -> array_to_string(toks[i:i+4], ' '))
                  ELSE [array_to_string(toks, ' ')] END) AS grams
      FROM tok),
    bench_pos AS (
      SELECT DISTINCT {_BLOOM_POS_SQL} AS pos
      FROM (SELECT DISTINCT unnest(grams) AS gram FROM sh WHERE doc_id % 97 = 0)
      CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)),
    doc_pos AS (
      SELECT doc_id, gram, {_BLOOM_POS_SQL} AS pos
      FROM (SELECT doc_id, unnest(grams) AS gram FROM sh WHERE doc_id % 97 <> 0)
      CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)),
    hits AS (
      SELECT doc_id, gram
      FROM doc_pos JOIN bench_pos USING (pos)
      GROUP BY doc_id, gram
      HAVING COUNT(*) = 3)
    SELECT doc_id, COUNT(*) AS n_bloom_hits
    FROM hits GROUP BY doc_id
    """,
)
def bloom_decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (llm/decontam.py bloom_contamination):
    the benchmark's 5-gram set becomes an 8 KiB literal bitset probed with
    pure expressions (portable_hash60 + bit_get) — the corpus side does
    ZERO joins, so the only exchange at 100 TB is the final per-doc agg.
    The oracle models the identical bitset as a distinct-position set, so
    Bloom false positives are part of the compared semantics, not noise."""
    from tabsdata_spark.llm import decontam

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corp = fan_out(docs.filter(F.col("doc_id") % 97 != 0))
    return decontam.bloom_contamination(
        corp, bench, hash_fn=textual.portable_hash60)


@q(
    "normalize_text_docs",
    """
    WITH dirty AS (
      SELECT doc_id,
             '  “start”' || chr(9) || text || ' – x ' || chr(1)
               || 'y' || repeat(chr(10), 4) || '  end  ' AS t
      FROM documents),
    n1 AS (
      SELECT doc_id,
             translate(t, '‘’“”–— ',
                       '''''""-- ') AS t
      FROM dirty),
    n2 AS (SELECT doc_id, regexp_replace(t, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g') AS t FROM n1),
    n3 AS (SELECT doc_id, regexp_replace(t, '[ \t]+', ' ', 'g') AS t FROM n2),
    n4 AS (SELECT doc_id, regexp_replace(t, ' ?\n ?', chr(10), 'g') AS t FROM n3),
    n5 AS (SELECT doc_id, regexp_replace(t, '\n{3,}', chr(10) || chr(10), 'g') AS t FROM n4)
    SELECT doc_id, trim(t) AS norm_text, md5(trim(t)) AS norm_md5
    FROM n5
    """,
)
def normalize_text_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text canonicalization (llm/textual.py normalize_text): quotes/dash/
    NBSP unification, control-char strip, whitespace collapse — applied to
    deterministically dirtied text so every rule fires; compared on the
    full normalized string AND its md5."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dirty = F.concat(F.lit("  “start”\t"), F.col("text"),
                     F.lit(" – x \x01y\n\n\n\n  end  "))
    norm = textual.normalize_text(dirty)
    return docs.select("doc_id", norm.alias("norm_text"),
                       F.md5(norm).alias("norm_md5"))


@q(
    "dedup_keep_best_docs",
    """
    WITH RECURSIVE e AS (
      SELECT a.doc_id AS s, b.doc_id AS t
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 5 = 0
    ),
    sym AS (SELECT s, t FROM e UNION SELECT t AS s, s AS t FROM e),
    nodes AS (SELECT DISTINCT s AS n FROM sym),
    walk(node, label) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT sym.t, walk.label FROM walk JOIN sym ON sym.s = walk.node
    ),
    comp AS (SELECT node, MIN(label) AS component FROM walk GROUP BY node),
    best AS (
      SELECT component, node AS keep_id
      FROM (SELECT comp.component, comp.node,
                   ROW_NUMBER() OVER (PARTITION BY comp.component
                       ORDER BY d.n_chars DESC, comp.node ASC) AS rn
            FROM comp JOIN documents d ON d.doc_id = comp.node)
      WHERE rn = 1)
    SELECT d.doc_id, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT node FROM comp)
       OR d.doc_id IN (SELECT keep_id FROM best)
    """,
)
def dedup_keep_best_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best near-dup removal (llm/dedup.py dedup_keep_best): within
    each duplicate cluster keep the longest document (max n_chars, ties ->
    min id) instead of the min-id one — the curation form of transitive
    dedup.  Component graph is the deterministic chain graph shared with
    connected_components_docs so the oracle stays a recursive CTE."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.select(F.col("doc_id").alias("id"))
    e1 = (docs.filter(F.col("doc_id") % 5 == 0)
          .select(F.col("doc_id").alias("id_a"),
                  (F.col("doc_id") + 1).alias("id_b"))
          .join(ids, F.col("id_b") == F.col("id"), "left_semi"))
    kept = dedup.dedup_keep_best(docs, e1, "n_chars")
    return kept.select("doc_id", "n_chars")


@q(
    "token_budget_select_docs",
    r"""
    WITH scored AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
             ROUND((
               LEAST(length(text) / 500.0, 1.0)
               + GREATEST(0.0, 1.0 - (CASE WHEN length(text) > 0
                   THEN len(regexp_extract_all(text, '[.,!?;:]')) / CAST(length(text) AS DOUBLE)
                   ELSE 0.0 END) * 5.0)
               + (CASE WHEN (CASE WHEN len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '')) > 0
                       THEN len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be'], x)))
                            / CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '')) AS DOUBLE)
                       ELSE 0.0 END) > 0.1 THEN 1.0
                  ELSE (CASE WHEN len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '')) > 0
                       THEN len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be'], x)))
                            / CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '')) AS DOUBLE)
                       ELSE 0.0 END) * 10.0 END)
             ) / 3.0, 6) AS quality
      FROM documents),
    binned AS (
      SELECT doc_id, n_tokens, quality,
             CAST(LEAST(99, FLOOR(quality * 100)) AS INTEGER) AS qbin
      FROM scored),
    budget AS (SELECT CAST(TRUNC(SUM(n_tokens) * 0.3) AS BIGINT) AS b FROM binned),
    hist AS (SELECT qbin, SUM(n_tokens) AS bin_tokens FROM binned GROUP BY qbin),
    cum AS (
      SELECT qbin, SUM(bin_tokens) OVER (ORDER BY qbin DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM hist),
    cutoff AS (SELECT MIN(qbin) AS cut FROM cum CROSS JOIN budget
               WHERE cum_tokens <= b)
    SELECT doc_id, n_tokens, quality, qbin
    FROM binned CROSS JOIN cutoff
    WHERE qbin >= cut
    """,
)
def token_budget_select_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection (llm/corpus.py token_budget_select):
    highest quality-bin prefix fitting 30% of the corpus' tokens.  The
    cumulative window runs over the <=100-row bin histogram (bounded by
    construction), never the data; the cutoff joins back as a 1-row
    broadcast."""
    from tabsdata_spark.llm import corpus

    docs = fan_out(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    total = docs.agg(
        F.sum(textual.token_count(F.col("text"))).alias("t")).first()["t"]
    return corpus.token_budget_select(docs, int(total * 0.3))


@q("embed_pq_topk", _EMBED_TOPK_ORACLE)
def embed_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (llm/similarity.py pq_topk: Jégou et al.
    ADC — m byte-codes per vector, per-query distance tables, lookups
    instead of dot products) used as a candidate generator, exact-cosine
    re-ranked to top-5 — held to the same EXACT oracle as embed_topk: the
    PQ candidate set must cover every true top-5 neighbor at this
    (m=16, ksub=64, 100-candidate) setting, so codebook/encode/ADC
    regressions surface as recall failures in the driver check.  (These
    embeddings are near-random — the hardest case for PQ: no cluster
    structure to exploit, so the subspace grid must be fine; real
    embedding corpora tolerate far coarser m.)"""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    cand = similarity.pq_topk(emb, qs, k=100, m=16, ksub=64) \
        .select("query_id", "vec_id")
    withv = cand.join(emb.select("vec_id", "embedding"), "vec_id")
    withq = withv.join(
        F.broadcast(qs.select(F.col("query_id"),
                              F.col("embedding").alias("__qv"))), "query_id")
    cos = F.round(similarity.cosine(F.col("embedding"), F.col("__qv")), 6)
    from pyspark.sql.window import Window as W
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                          F.col("vec_id").asc())
    return (withq.select("query_id", "vec_id", cos.alias("cosine"))
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= 5))


def _zorder_oracle(bits: int, specs: list[tuple[str, float, float]]) -> str:
    """Generate the DuckDB twin of scale.zorder_value: same quantization
    arithmetic, same (q >> b) & 1 interleave, shift amounts unrolled."""
    ndim = len(specs)
    scale_max = (1 << bits) - 1
    qdefs = ", ".join(
        f"CAST(FLOOR((LEAST(GREATEST(CAST({c} AS DOUBLE), {lo}), {hi}) - {lo})"
        f" / {float(hi) - float(lo)} * {float(scale_max)}) AS BIGINT) AS q{d}"
        for d, (c, lo, hi) in enumerate(specs))
    terms = " + ".join(
        f"(((q{d} >> {b}) & 1) << {b * ndim + d})"
        for b in range(bits) for d in range(ndim))
    return qdefs, terms


_ZQ, _ZTERMS = _zorder_oracle(8, [("user_id", 0.0, 200.0),
                                  ("value", 0.0, 500.0)])


@q(
    "zorder_events",
    f"""
    WITH q AS (SELECT event_id, {_ZQ} FROM events)
    SELECT event_id, {_ZTERMS} AS zval
    FROM q
    """,
)
def zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout value (scale.zorder_value): quantize
    (user_id, value) to an 8-bit grid and bit-interleave — the multi-column
    data-skipping layout behind OPTIMIZE ZORDER, as constant-shift integer
    expressions.  zorder_repartition range-partitions by this value; the
    oracle pins the curve arithmetic bit-for-bit."""
    from tabsdata_spark.scale import zorder_value

    ev = load_events(spark, sf_dir).df
    z = zorder_value([F.col("user_id"), F.col("value")],
                     [(0.0, 200.0), (0.0, 500.0)], bits=8)
    return ev.select("event_id", z.alias("zval"))


@q(
    "incremental_near_dup_docs",
    r"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3
                  THEN list_transform(range(1, len(toks) - 1),
                       i -> array_to_string(toks[i:i+2], ' '))
                  ELSE [array_to_string(toks, ' ')] END) AS shingles
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS toks
            FROM documents)),
    sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
    inter AS (
      SELECT n.doc_id AS doc_id, c.doc_id AS match_id, COUNT(*) AS shared
      FROM ex n JOIN ex c ON n.g = c.g
      WHERE n.doc_id >= 250 AND c.doc_id < 250
      GROUP BY 1, 2),
    j AS (
      SELECT inter.doc_id, match_id,
             ROUND(shared / CAST(sa.n + sb.n - shared AS DOUBLE), 6) AS jaccard
      FROM inter
      JOIN sz sa ON sa.doc_id = inter.doc_id
      JOIN sz sb ON sb.doc_id = inter.match_id
      WHERE shared / CAST(sa.n + sb.n - shared AS DOUBLE) >= 0.5)
    SELECT doc_id, match_id, jaccard
    FROM j
    QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY jaccard DESC, match_id ASC) = 1
    """,
)
def incremental_near_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest NEAR dedup (llm/dedup.py incremental_near_dup):
    new batch (doc_id >= 250) flagged against the ingested corpus
    (doc_id < 250) via one banded-LSH pass over the tagged union + exact
    n-gram Jaccard verify; best corpus match per flagged doc.  The oracle
    is the exact inverted-index jaccard join, so LSH recall at this
    (32-hash, 8-band) setting is pinned to exactness on the test corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = docs.filter(F.col("doc_id") >= 250)
    corpus = docs.filter(F.col("doc_id") < 250)
    return dedup.incremental_near_dup(batch, corpus, threshold=0.5)


@q(
    "heavy_hitters_tokens",
    f"""
    WITH {_TOKS_CTE},
    c AS (SELECT term, COUNT(*) AS n FROM toks GROUP BY term),
    t AS (SELECT SUM(n) AS total FROM c)
    SELECT term, n, n >= total / 1024.0 AS guarantee_ok
    FROM c CROSS JOIN t
    ORDER BY n DESC, term ASC
    LIMIT 20
    """,
)
def heavy_hitters_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 tokens via the two-pass candidate/recount heavy-hitter
    pattern (stats.heavy_hitters): per-partition SpaceSaving candidates,
    exact recount of candidates only — the shuffle carries candidate rows,
    never the full vocabulary.  Oracle = the plain exact top-20, so a
    candidate-coverage failure (budget too small) flips rows."""
    from tabsdata_spark import stats
    from tabsdata_spark.llm.corpus import clean_tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        F.explode(clean_tokens(F.col("text"))).alias("term"))
    return stats.heavy_hitters(toks, "term", k=20, budget=1024)


@q(
    "hll_union_invariant",
    """
    SELECT source AS grp, COUNT(DISTINCT n_chars) AS exact_distinct,
           TRUE AS within_5pct
    FROM documents GROUP BY source
    UNION ALL
    SELECT '__all__' AS grp, COUNT(DISTINCT n_chars) AS exact_distinct,
           TRUE AS within_5pct
    FROM documents
    """,
)
def hll_union_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable DataSketches HLL (stats.hll_mergeable_distinct): per-source
    sketches plus their union.  The '__all__' row additionally asserts the
    union is LOSSLESS (estimate of unioned per-group sketches == estimate
    of one direct sketch — register-wise max), the property that lets a
    100 TB rollup re-aggregate stored sketches without rescanning; both
    invariants ride on hash-compared exact anchors."""
    from tabsdata_spark import stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stats.hll_mergeable_distinct(docs, "source", "n_chars")


@q(
    "feature_hash_docs",
    rf"""
    WITH tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id,
                   unnest(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')), '\s+'),
                          x -> x <> '')) AS term
            FROM documents)
      GROUP BY doc_id, term),
    sums AS (
      SELECT doc_id,
             CAST({_HASH60_SQL.format(v='term')} % 16 AS INTEGER) AS bucket,
             SUM(tf * (({_HASH60_SQL.format(v="'s|' || term")} % 2) * 2 - 1))
               AS val
      FROM tf GROUP BY 1, 2),
    grid AS (
      SELECT doc_id, unnest(range(0, 16)) AS bucket
      FROM (SELECT DISTINCT doc_id FROM sums)),
    vals AS (
      SELECT g.doc_id, g.bucket, COALESCE(s.val, 0) AS val
      FROM grid g LEFT JOIN sums s
        ON s.doc_id = g.doc_id AND s.bucket = g.bucket)
    SELECT doc_id, CAST(bucket AS INTEGER) AS bucket,
           CAST(val AS DOUBLE) AS val
    FROM vals
    """,
)
def feature_hash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing document embeddings (llm/corpus.py
    feature_hash_embedding — Weinberger et al. hashing trick): signed tf
    sums over hash buckets, assembled by map lookup (no pivot).  Run in
    portable-hash mode so the oracle recomputes every coordinate
    bit-for-bit; production keeps xxhash64.  Surfaced as exploded
    (doc_id, bucket, val) rows: array columns are normalizer-fragile
    under driver hashing (numpy vs list repr), scalar cells are not."""
    from tabsdata_spark.llm import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = corpus.feature_hash_embedding(
        docs, dim=16, hash_fn=textual.portable_hash60)
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("bucket", "val"))


@q(
    "sparse_cosine_docs",
    r"""
    WITH tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id,
                   unnest(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')), '\s+'),
                          x -> x <> '')) AS term
            FROM documents)
      GROUP BY doc_id, term),
    dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term
            HAVING COUNT(*) <= 100),
    n AS (SELECT COUNT(*) AS n_total FROM documents),
    w AS (
      SELECT doc_id, term,
             tf * ln(CAST(n_total AS DOUBLE) / df) AS w
      FROM tf JOIN dfc USING (term) CROSS JOIN n),
    norms AS (SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM w GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.w * b.w) AS dot
      FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b,
           ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = id_a
    JOIN norms nb ON nb.doc_id = id_b
    WHERE ROUND(dot / (na.nrm * nb.nrm), 6) >= 0.5
    """,
)
def sparse_cosine_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact TF-IDF cosine pairs through the inverted index (llm/corpus.py
    sparse_cosine_pairs) — the cosine complement to minhash Jaccard.
    df <= 100 prunes ubiquitous terms BEFORE the quadratic posting join
    (near-zero idf, quadratic cost), the standard fan-out bound."""
    from tabsdata_spark.llm import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.sparse_cosine_pairs(docs, min_sim=0.5, max_df=100)


@q(
    "funnel_events",
    """
    WITH s1 AS (SELECT user_id, MIN(ts) AS t_1 FROM events
                WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(e.ts) AS t_2
           FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'view' AND e.ts > s1.t_1
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(e.ts) AS t_3
           FROM events e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s2.t_2
           GROUP BY e.user_id),
    j AS (SELECT s1.user_id, s1.t_1, s2.t_2, s3.t_3
          FROM s1 LEFT JOIN s2 USING (user_id)
                  LEFT JOIN s3 USING (user_id)),
    wnd AS (SELECT user_id, t_1,
                   CASE WHEN t_2 <= t_1 + INTERVAL 2 DAY THEN t_2 END AS t_2,
                   CASE WHEN t_3 <= t_1 + INTERVAL 2 DAY THEN t_3 END AS t_3
            FROM j)
    SELECT user_id, t_1, t_2, t_3,
           CASE WHEN t_2 IS NULL THEN 1
                WHEN t_3 IS NULL THEN 2
                ELSE 3 END AS reached_steps
    FROM wnd
    """,
)
def funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event funnel signup -> view -> purchase within 2 days
    (extensions.funnel): k-1 user-keyed min-joins, exchange-reused
    partitioning, no full-table windows."""
    from tabsdata_spark.extensions import funnel

    ev = load_events(spark, sf_dir).df
    return funnel(ev, "user_id", "ts", "event_type",
                  ["signup", "view", "purchase"], within="2 DAY")


@q(
    "drift_psi_events",
    """
    WITH ha AS (
      SELECT LEAST(GREATEST(CAST(FLOOR(value / 50.0) AS INTEGER), 0), 9)
               AS bucket, COUNT(*) AS na
      FROM events WHERE user_id % 2 = 0 GROUP BY 1),
    hb AS (
      SELECT LEAST(GREATEST(CAST(FLOOR(value / 50.0) AS INTEGER), 0), 9)
               AS bucket, COUNT(*) AS nb
      FROM events WHERE user_id % 2 = 1 GROUP BY 1),
    grid AS (SELECT CAST(unnest(range(0, 10)) AS INTEGER) AS bucket),
    j AS (
      SELECT g.bucket, COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
      FROM grid g LEFT JOIN ha ON ha.bucket = g.bucket
                  LEFT JOIN hb ON hb.bucket = g.bucket),
    t AS (SELECT SUM(na) AS ta, SUM(nb) AS tb FROM j),
    per AS (
      SELECT bucket,
             ROUND((na + 0.5) / (ta + 5.0), 6) AS p_a,
             ROUND((nb + 0.5) / (tb + 5.0), 6) AS p_b,
             ROUND(((na + 0.5) / (ta + 5.0) - (nb + 0.5) / (tb + 5.0))
                   * ln(((na + 0.5) / (ta + 5.0))
                        / ((nb + 0.5) / (tb + 5.0))), 6) AS psi
      FROM j CROSS JOIN t)
    SELECT bucket, p_a, p_b, psi FROM per
    UNION ALL
    SELECT -1 AS bucket, NULL AS p_a, NULL AS p_b,
           ROUND((SELECT SUM(psi) FROM per), 6) AS psi
    """,
)
def drift_psi_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two event cohorts
    (stats.drift_psi): fixed-range histograms (O(buckets) state), Laplace
    add-half smoothing so empty buckets stay finite and deterministic,
    per-bucket contributions plus the total (bucket = -1)."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    a = ev.filter(F.col("user_id") % 2 == 0)
    b = ev.filter(F.col("user_id") % 2 == 1)
    return stats.drift_psi(a, b, "value", 0.0, 500.0, buckets=10)


@q(
    "retention_cohorts_events",
    """
    WITH acts AS (
      SELECT DISTINCT user_id AS u,
             CAST(date_trunc('week', ts) AS TIMESTAMP) AS p FROM events),
    firstp AS (SELECT u, MIN(p) AS cohort FROM acts GROUP BY u),
    sizes AS (SELECT cohort, COUNT(*) AS cohort_size FROM firstp
              GROUP BY cohort),
    j AS (
      SELECT a.u, f.cohort,
             CAST(TRUNC((epoch(a.p) - epoch(f.cohort)) / 604800.0)
                  AS INTEGER) AS period_offset
      FROM acts a JOIN firstp f USING (u))
    SELECT j.cohort, period_offset, COUNT(*) AS n_users,
           ROUND(COUNT(*) / CAST(cohort_size AS DOUBLE), 6) AS retention
    FROM j JOIN sizes ON sizes.cohort = j.cohort
    GROUP BY j.cohort, period_offset, cohort_size
    """,
)
def retention_cohorts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (extensions.retention_cohorts): the
    distinct (user, week) activity pairs collapse map-side before the only
    real shuffles; no windows over the event table."""
    from tabsdata_spark.extensions import retention_cohorts

    ev = load_events(spark, sf_dir).df
    return retention_cohorts(ev, "user_id", "ts", "week")


@q(
    "collocations_docs",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')), '\s+'),
                         x -> x <> '') AS toks
      FROM documents),
    bi AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i+1])) AS bigram
      FROM t WHERE len(toks) >= 2),
    pairs AS (
      SELECT bigram, COUNT(*) AS n_pair FROM bi GROUP BY bigram
      HAVING COUNT(*) >= 5),
    uni AS (
      SELECT w, COUNT(*) AS n_w
      FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
    nt AS (SELECT SUM(n_w) AS n_tokens FROM uni),
    nb AS (SELECT SUM(CASE WHEN len(toks) >= 2 THEN len(toks) - 1 ELSE 0 END)
             AS n_bigrams FROM t)
    SELECT bigram, n_pair,
           ROUND(ln((n_pair / n_bigrams)
                    / ((c1.n_w / CAST(n_tokens AS DOUBLE))
                       * (c2.n_w / CAST(n_tokens AS DOUBLE)))), 6) AS pmi
    FROM pairs
    JOIN uni c1 ON c1.w = split_part(bigram, ' ', 1)
    JOIN uni c2 ON c2.w = split_part(bigram, ' ', -1)
    CROSS JOIN nt CROSS JOIN nb
    """,
)
def collocations_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocations (llm/corpus.py collocations — Church & Hanks
    phrase mining): bigram-vs-unigram independence ratio, min_count=5
    pruning the spurious tail; constituent-word joins hint-free (AQE)."""
    from tabsdata_spark.llm import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.collocations(docs, min_count=5)


@q(
    "mad_outliers_events",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS grp_median
      FROM events GROUP BY event_type),
    mad AS (
      SELECT e.event_type,
             quantile_cont(ABS(e.value - m.grp_median), 0.5) AS grp_mad
      FROM events e JOIN med m USING (event_type)
      GROUP BY e.event_type),
    j AS (
      SELECT e.event_id, e.event_type, e.value, m.grp_median, d.grp_mad,
             CASE WHEN d.grp_mad > 0
                  THEN ROUND(0.6745 * (e.value - m.grp_median) / d.grp_mad, 6)
             END AS robust_z
      FROM events e JOIN med m USING (event_type)
                    JOIN mad d USING (event_type))
    SELECT event_id, event_type, ROUND(value, 6) AS value,
           ROUND(grp_median, 6) AS grp_median, ROUND(grp_mad, 6) AS grp_mad,
           robust_z,
           COALESCE(ABS(robust_z) > 3.5, FALSE) AS is_outlier
    FROM j
    """,
)
def mad_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust modified-z outliers (stats.mad_outliers, Iglewicz-Hoaglin):
    exact per-group median + MAD (two partial-agg shuffles), flags joined
    back via broadcast of the per-group stats."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    out = stats.mad_outliers(ev, "value", ["event_type"])
    return out.select("event_id", "event_type",
                      F.round("value", 6).alias("value"),
                      F.round("grp_median", 6).alias("grp_median"),
                      F.round("grp_mad", 6).alias("grp_mad"),
                      "robust_z", "is_outlier")


@q(
    "dedup_window_events",
    """
    WITH keep AS (
      SELECT user_id, event_type, time_bucket(INTERVAL 1 HOUR, ts) AS w,
             MIN(ts) AS ts
      FROM events GROUP BY user_id, event_type, w)
    SELECT DISTINCT e.event_id, e.user_id, e.event_type, e.ts
    FROM events e
    JOIN keep k ON k.user_id = e.user_id AND k.event_type = e.event_type
              AND k.ts = e.ts
    """,
)
def dedup_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed dedup (llm/dedup.dedup_within_window — batch twin of
    dropDuplicatesWithinWatermark): first event per (user, type) per
    tumbling hour.  NOTE the oracle keeps every event sharing that min ts;
    the operator dropDuplicates on (keys, ts) — the events table has no
    (user,type,ts) collision at sf0.01, making the two forms identical
    and the comparison exact."""
    ev = load_events(spark, sf_dir).df
    out = dedup.dedup_within_window(ev, ["user_id", "event_type"], "ts",
                                    "1 hour")
    return out.select("event_id", "user_id", "event_type", "ts")


@q(
    "edit_distance_pairs_docs",
    """
    WITH t AS (SELECT doc_id, substr(text, 1, 1000) AS tt FROM documents),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.tt AS ta, b.tt AS tb
      FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 7 = 0)
    SELECT id_a, id_b,
           levenshtein(ta, tb) AS edit_distance,
           ROUND(CASE WHEN GREATEST(length(ta), length(tb)) > 0
                 THEN 1.0 - levenshtein(ta, tb)
                      / CAST(GREATEST(length(ta), length(tb)) AS DOUBLE)
                 ELSE 1.0 END, 6) AS edit_similarity
    FROM p
    """,
)
def edit_distance_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Levenshtein verification on deterministic candidate
    pairs (llm/dedup.edit_distance_pairs) — JVM levenshtein, candidates
    only, length-capped DP."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.select(F.col("doc_id").alias("id"))
    pairs = (docs.filter(F.col("doc_id") % 7 == 0)
             .select(F.col("doc_id").alias("id_a"),
                     (F.col("doc_id") + 1).alias("id_b"))
             .join(ids, F.col("id_b") == F.col("id"), "left_semi"))
    return dedup.edit_distance_pairs(docs, pairs)


@q(
    "audio_features_decode",
    """
    SELECT doc_id,
           16000 AS sample_rate,
           CAST(10 + doc_id % 5 AS INTEGER) AS duration_ms,
           ROUND(((1 + (doc_id * 7) % 1000) - 1) / 32768.0, 6) AS rms,
           ROUND(((1 + (doc_id * 7) % 1000) - 1) / 32768.0, 6) AS peak,
           CAST(0.0 AS DOUBLE) AS zcr
    FROM documents WHERE doc_id < 80
    """,
)
def audio_features_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, value-oracled (the WAV sibling of
    video_frames_decode): each doc gets a 16-bit PCM WAV holding a
    constant-amplitude signal whose stored int16 value is closed-form in
    doc_id (c = k/32768 encodes as trunc(c*32767) = k-1 exactly — the
    encoder's truncation is part of the oracle), so RMS/peak/duration
    recompute arithmetically and zero-crossing rate is exactly 0.  The
    pipeline runs executor-side encode (llm/codecs.encode_wav) then
    decode/featurize (decode_wav) over mapInPandas."""
    import pandas as pd

    def make_and_decode(batches):
        import numpy as np

        from tabsdata_spark.llm import codecs

        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                k = 1 + (i * 7) % 1000
                n = 160 + (i % 5) * 16
                payload = codecs.encode_wav(
                    np.full(n, k / 32768.0), sample_rate=16_000)
                d = codecs.decode_wav(payload)
                rows.append((i, d["sample_rate"], d["duration_ms"],
                             d["features"][0], d["features"][1],
                             d["features"][2]))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "sample_rate", "duration_ms", "rms", "peak", "zcr"])

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .filter(F.col("doc_id") < 80)
    return docs.select("doc_id").mapInPandas(
        make_and_decode,
        "doc_id long, sample_rate int, duration_ms int, rms double, "
        "peak double, zcr double")


# ===========================================================================
# Late round-3 additions: partial-dup containment, hard-negative mining,
# char-entropy quality (registered AFTER the r3 driver window; r4+ pool)
# ===========================================================================
@q(
    "containment_pairs_docs",
    r"""
    WITH sh AS (
      SELECT doc_id, list_distinct(ngrams) AS shingles
      FROM (
        SELECT doc_id,
               CASE WHEN len(toks) >= 3
                    THEN list_transform(range(1, len(toks) - 1),
                         i -> array_to_string(toks[i:i+2], ' '))
                    ELSE [array_to_string(toks, ' ')] END AS ngrams
        FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS toks
              FROM documents))
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CASE WHEN len(a.shingles) > 0
                 THEN len(list_intersect(a.shingles, b.shingles))
                      / CAST(len(a.shingles) AS DOUBLE)
                 ELSE 0.0 END, 6) AS containment_ab,
           ROUND(CASE WHEN len(b.shingles) > 0
                 THEN len(list_intersect(a.shingles, b.shingles))
                      / CAST(len(b.shingles) AS DOUBLE)
                 ELSE 0.0 END, 6) AS containment_ba
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    WHERE a.doc_id % 7 = 0
    """,
)
def containment_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided n-gram containment on deterministic candidate pairs —
    the partial-duplication verify step (short doc quoted inside a long
    one) that symmetric Jaccard misses."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = docs.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    ).filter((F.col("id_a") % 7) == 0)
    pairs = pairs.join(
        docs.select(F.col("doc_id").alias("id_b")), on="id_b", how="left_semi"
    )
    return dedup.containment_pairs(docs, pairs, n=3)


@q(
    "hard_negatives_emb",
    """
    WITH q AS (SELECT vec_id AS query_id, label, embedding AS qv
               FROM embeddings WHERE vec_id < 8),
    cand AS (
      SELECT q.query_id, e.vec_id,
             list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]) AS sim
      FROM embeddings e JOIN q ON e.label = q.label AND e.vec_id <> q.query_id)
    SELECT query_id, vec_id, ROUND(sim, 6) AS cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY sim DESC, vec_id) AS INT) AS rank
    FROM cand
    WHERE sim >= 0.3 AND sim < 0.9
    QUALIFY rank <= 3
    """,
)
def hard_negatives_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, top-3
    label-blocked neighbors with cosine in [0.3, 0.9) — confusable but
    not near-duplicate.  Band filter on the UNROUNDED cosine (engine
    float-sum margins to both boundaries measured >= 5e-4 at all sfs)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "label", "embedding")
    return similarity.hard_negatives(
        emb, qs, k=3, lo=0.3, hi=0.9, block_col="label")


@q(
    "char_entropy_docs",
    """
    WITH c AS (
      SELECT doc_id,
             list_filter(string_split(text, ''), x -> x <> '') AS chars
      FROM documents)
    SELECT doc_id,
           ROUND(CASE WHEN len(chars) > 0 THEN
             log2(CAST(len(chars) AS DOUBLE)) -
             list_sum(list_transform(list_distinct(chars),
                c2 -> CAST(len(list_filter(chars, x -> x = c2)) AS DOUBLE)
                      * log2(CAST(len(list_filter(chars, x -> x = c2)) AS DOUBLE))))
             / len(chars)
           ELSE 0.0 END, 6) AS entropy
    FROM c
    """,
)
def char_entropy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document (gibberish /
    boilerplate signal).  Shuffle-free array expressions; both engines
    compute log2(n) - sum(c*log2(c))/n over integer counts (identical
    IEEE arithmetic shape)."""
    docs = fan_out(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return docs.select(
        "doc_id", F.round(textual.char_entropy(F.col("text")), 6).alias("entropy"))


@q(
    "weighted_sample_docs",
    f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             ln(({_HASH60_SQL.format(v="CAST(doc_id AS VARCHAR)")} + 1)
                / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS es
      FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
    SELECT doc_id, source, n_chars
    FROM keyed
    QUALIFY row_number() OVER (PARTITION BY source
                               ORDER BY es DESC, doc_id) <= 5
    """,
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
    5 docs per source with probability ∝ n_chars, deterministic via the
    portable md5 hash — the oracle replays the identical key arithmetic
    (ln((h+1)/2^60)/w)."""
    from tabsdata_spark.llm import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "source", "n_chars")
    return corpus.weighted_sample(
        docs, weight_col="n_chars", key_col="doc_id", k=5,
        strata_col="source")


@q(
    "bpe_encode_docs",
    r"""
    WITH wq AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')), '\s+'),
                    x -> x <> '')) AS word
      FROM documents
    ), enc AS (
      SELECT doc_id,
             -- each symbol wrapped in single seps, double sep between
             -- adjacent symbols: non-overlapping left-to-right replace then
             -- merges ALL adjacent occurrences of a pair in one pass,
             -- exactly the per-rule merge semantics of the encoder
             replace(replace(replace(replace(replace(
               chr(31) || array_to_string(string_split(word, ''), chr(31) || chr(31)) || chr(31),
               chr(31)||'t'||chr(31)||chr(31)||'h'||chr(31), chr(31)||'th'||chr(31)),
               chr(31)||'e'||chr(31)||chr(31)||'r'||chr(31), chr(31)||'er'||chr(31)),
               chr(31)||'th'||chr(31)||chr(31)||'e'||chr(31), chr(31)||'the'||chr(31)),
               chr(31)||'a'||chr(31)||chr(31)||'n'||chr(31), chr(31)||'an'||chr(31)),
               chr(31)||'i'||chr(31)||chr(31)||'n'||chr(31), chr(31)||'in'||chr(31)) AS s
      FROM wq
    ), counted AS (
      SELECT doc_id,
             len(string_split(substr(s, 2, len(s) - 2), chr(31) || chr(31))) AS ntok
      FROM enc
    ), agg AS (
      SELECT doc_id, count(*) AS n_words, sum(ntok) AS n_bpe_tokens
      FROM counted GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(a.n_words, 0) AS INT) AS n_words,
           CAST(COALESCE(a.n_bpe_tokens, 0) AS INT) AS n_bpe_tokens
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encoding with a FIXED literal merge table, held to a DuckDB
    oracle that replays each merge rule as a delimiter-safe string
    replacement.  The merge table is chosen so per-rule sequential
    application equals the encoder's iterative min-rank algorithm (no
    later rule's RESULT equals an earlier rule's COMPONENT, so earlier
    pairs can never re-appear after their pass) — making the production
    pandas_udf path value-checkable in pure SQL.  llm/bpe.train_bpe
    (driver merge loop over the bounded word-frequency dictionary) is
    pytest-verified against an independent reference instead."""
    from tabsdata_spark.llm import bpe
    from tabsdata_spark.llm.corpus import clean_tokens

    merges = [("t", "h"), ("e", "r"), ("th", "e"), ("a", "n"), ("i", "n")]
    docs = fan_out(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    enc = bpe.bpe_encode(docs, merges)
    return enc.select(
        "doc_id",
        F.size(clean_tokens(F.col("text"))).alias("n_words"),
        F.size("bpe_tokens").alias("n_bpe_tokens"))


@q(
    "readability_docs",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(COALESCE(text, '')), '\s+'),
                         x -> x <> '') AS toks,
             greatest(len(regexp_extract_all(COALESCE(text, ''), '[.!?]+')), 1) AS n_sent
      FROM documents)
    SELECT doc_id,
           ROUND(CASE WHEN len(toks) > 0 THEN
             0.39 * (CAST(len(toks) AS DOUBLE) / CAST(n_sent AS DOUBLE))
             + 11.8 * (CAST(list_sum(list_transform(toks,
                 w -> greatest(len(regexp_extract_all(lower(w), '[aeiouy]+')), 1)))
               AS DOUBLE) / CAST(len(toks) AS DOUBLE))
             - 15.59
           ELSE 0.0 END, 6) AS fk_grade
    FROM t
    """,
)
def readability_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade per document — shuffle-free quality signal;
    the oracle replays the identical IEEE arithmetic shape
    (0.39*(w/s) + 11.8*(syll/w) - 15.59)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        F.round(textual.readability(F.col("text")), 6).alias("fk_grade"))


@q(
    "js_divergence_sources",
    r"""
    WITH tc AS (
      SELECT source AS src, term, count(*) AS c
      FROM (SELECT source,
                   unnest(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')), '\s+'),
                          x -> x <> '')) AS term
            FROM documents)
      GROUP BY source, term
    ), tot AS (
      SELECT src, sum(c) AS n FROM tc GROUP BY src
    ), p AS (
      SELECT tc.src, tc.term,
             CAST(tc.c AS DOUBLE) / CAST(tot.n AS DOUBLE) AS p
      FROM tc JOIN tot ON tc.src = tot.src
    ), joined AS (
      SELECT a.src AS src_a, b.src AS src_b, a.p AS pa, b.p AS pb
      FROM p a JOIN p b ON a.term = b.term AND a.src < b.src
    ), agg AS (
      SELECT src_a, src_b,
             sum(CAST(0.5 * (pa * log2(2.0 * pa / (pa + pb))
                             + pb * log2(2.0 * pb / (pa + pb)))
                 AS DECIMAL(28,14))) AS common_contrib,
             sum(CAST(pa AS DECIMAL(28,14))) AS common_pa,
             sum(CAST(pb AS DECIMAL(28,14))) AS common_pb
      FROM joined GROUP BY src_a, src_b
    )
    SELECT ap.src_a, ap.src_b,
           ROUND(CAST(COALESCE(agg.common_contrib, 0) AS DOUBLE)
                 + 0.5 * (1.0 - CAST(COALESCE(agg.common_pa, 0) AS DOUBLE))
                 + 0.5 * (1.0 - CAST(COALESCE(agg.common_pb, 0) AS DOUBLE)), 6) AS jsd
    FROM (SELECT a.src AS src_a, b.src AS src_b
          FROM tot a JOIN tot b ON a.src < b.src) ap
    LEFT JOIN agg ON ap.src_a = agg.src_a AND ap.src_b = agg.src_b
    """,
)
def js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between source unigram distributions —
    corpus-mixture diagnostic; decimal-summed contributions make the
    aggregation order-free across engines and partitionings."""
    from tabsdata_spark.llm import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.js_divergence_sources(docs)


@q(
    "bloom_join_orders",
    """
    SELECT c.c_custkey,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
           COUNT(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_acctbal > 9000
    GROUP BY c.c_custkey
    """,
)
def bloom_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join: the small side (high-balance customers) turns
    into a driver-built Bloom bitset probed at the orders scan BEFORE the
    exact join — identical results to a plain join (false positives only
    admit extra rows into the exact join), big-side shuffle shrunk by the
    dim selectivity.  The oracle is the plain join."""
    from tabsdata_spark.scale import bloom_prefilter_join

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .select(F.col("o_custkey").alias("c_custkey"), "o_totalprice")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet") \
        .filter(F.col("c_acctbal") > 9000).select("c_custkey")
    joined = bloom_prefilter_join(orders, cust, on="c_custkey")
    return (joined.groupBy("c_custkey")
            .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .cast("double").alias("total_spend"),
                 F.count(F.lit(1)).alias("n_orders")))


# ===========================================================================
# round-3 continued: analytics + retrieval fusion batch (r4+ rotation pool)
# ===========================================================================
@q(
    "rolling_zscore_events",
    """
    WITH base AS (
      SELECT event_id, user_id, ts, value,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS m
      FROM events),
    wnd AS (
      SELECT event_id, user_id, ts, value,
             COUNT(m) OVER w AS n,
             CAST(SUM(m) OVER w AS DOUBLE) AS s1,
             CAST(SUM(CAST(m AS HUGEINT) * m) OVER w AS DOUBLE) AS s2
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
    v AS (
      SELECT event_id, user_id, ts, value,
             (s1 / 1e6) / CAST(n AS DOUBLE) AS mean,
             ((s2 - s1 * s1 / CAST(n AS DOUBLE))
              / (CAST(n AS DOUBLE) - 1)) / 1e12 AS var
      FROM wnd WHERE n >= 8),
    z AS (
      SELECT event_id, user_id, ts, value, mean, SQRT(var) AS std
      FROM v WHERE var > 0)
    SELECT event_id, user_id, ts, value,
           ROUND(mean, 6) AS roll_mean,
           ROUND(std, 6) AS roll_std,
           ROUND((value - mean) / std, 6) AS zscore
    FROM z
    WHERE ABS((value - mean) / std) > 2.5
    """,
)
def rolling_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection per user (extensions.rolling_zscore):
    one shuffle on user_id, integer micros moment sums over a rows frame —
    bit-stable across engines/partitionings, window state bounded at 20."""
    from tabsdata_spark.extensions import rolling_zscore

    ev = load_events(spark, sf_dir).df
    out = rolling_zscore(ev, "user_id", "ts", "value", window=20,
                         min_periods=8, threshold=2.5, tie_cols=["event_id"])
    return out.select("event_id", "user_id", "ts", "value",
                      "roll_mean", "roll_std", "zscore")


@q(
    "regr_trend_events",
    """
    WITH b AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) - 1704067200 AS x,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL),
    a AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sx2
      FROM b GROUP BY event_type)
    SELECT event_type, n,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sx2 - sx * sx AS DOUBLE), 9) AS slope,
           ROUND((CAST(sy AS DOUBLE)
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sx2 - sx * sx AS DOUBLE))
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
             AS intercept
    FROM a
    """,
)
def regr_trend_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of value vs time (stats.exact_regression):
    seconds-since-2024 x micros-quantized y, every cross-moment an exact
    integer sum (decimal(38,0) in Spark, HUGEINT in DuckDB) — one
    partial-agg shuffle, slope/intercept derived by identical IEEE ops."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df.filter(F.col("value").isNotNull())
    b = ev.select(
        "event_type",
        (F.col("ts").cast("long") - F.lit(1704067200)).alias("x"),
        F.floor(F.col("value") * 1e6 + F.lit(0.5)).alias("y"))
    return stats.exact_regression(b, "x", "y", ["event_type"])


@q(
    "rrf_fuse_docs",
    f"""
    WITH {_TOKS_CTE},
    tdf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
            WHERE term IN ('join', 'vector', 'stream', 'window')
            GROUP BY doc_id, term),
    dfc AS (SELECT term, COUNT(*) AS df FROM tdf GROUP BY term),
    dl AS (SELECT doc_id,
                  len(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g')), '\\s+'),
                      x -> x <> '')) AS dl
           FROM documents),
    st AS (SELECT COUNT(*) AS n_total,
                  AVG(len(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g')), '\\s+'),
                      x -> x <> ''))) AS avgdl
           FROM documents),
    bm AS (
      SELECT tdf.doc_id AS doc_id,
             ROUND(SUM(ln((n_total - df + 0.5) / (df + 0.5) + 1)
                       * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS score
      FROM tdf JOIN dfc ON dfc.term = tdf.term
               JOIN dl ON dl.doc_id = tdf.doc_id, st
      GROUP BY tdf.doc_id),
    ra AS (SELECT doc_id,
                  CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank_0
           FROM bm
           QUALIFY rank_0 <= 100),
    rb AS (SELECT doc_id,
                  CAST(ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS INTEGER) AS rank_1
           FROM documents
           QUALIFY rank_1 <= 100)
    SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id, rank_0, rank_1,
           ROUND(COALESCE(1.0 / (60.0 + rank_0), 0.0)
                 + COALESCE(1.0 / (60.0 + rank_1), 0.0), 9) AS rrf
    FROM ra FULL JOIN rb ON ra.doc_id = rb.doc_id
    """,
)
def rrf_fuse_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval signals — BM25 relevance
    for a fixed query bag and a document-length prior (corpus.rrf_fuse).
    Each signal is cut to its top-100 by TakeOrderedAndProject BEFORE
    ranks exist, so the only unpartitioned window runs over <= 100 rows;
    contributions add in fixed order for bit-stable fused scores."""
    from tabsdata_spark.llm import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bm = corpus.bm25(docs, ["join", "vector", "stream", "window"]) \
        .withColumnRenamed("bm25", "score")
    prior = docs.select("doc_id", F.col("n_chars").alias("score"))
    return corpus.rrf_fuse([bm, prior], id_col="doc_id", score_col="score",
                           k=60, top_n=100)


@q(
    "semantic_decontam_emb",
    """
    WITH bench AS (SELECT vec_id AS bench_id, embedding
                   FROM embeddings WHERE vec_id % 10 = 0),
    corp AS (SELECT vec_id AS corpus_id, embedding
             FROM embeddings WHERE vec_id % 10 <> 0),
    pairs AS (
      SELECT corpus_id, bench_id,
             list_cosine_similarity(c.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]) AS cos
      FROM corp c, bench b
      WHERE list_cosine_similarity(c.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[]) >= 0.4)
    SELECT corpus_id, bench_id, ROUND(cos, 6) AS cosine
    FROM pairs
    QUALIFY ROW_NUMBER() OVER (PARTITION BY corpus_id
                               ORDER BY cos DESC, bench_id) = 1
    """,
)
def semantic_decontam_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level benchmark decontamination
    (decontam.semantic_decontaminate): every tenth vector plays the eval
    set, broadcast against the corpus side — no corpus shuffle; flags the
    best-matching benchmark row per contaminated corpus vector."""
    from tabsdata_spark.llm import decontam

    raw = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # fan_out only the corpus side (and only its rows): the broadcast
    # bench side derives from the un-fanned read so its lineage skips
    # the repartition shuffle
    bench = raw.filter(F.col("vec_id") % 10 == 0)
    corp = fan_out(raw.filter(F.col("vec_id") % 10 != 0))
    return decontam.semantic_decontaminate(corp, bench, threshold=0.4)


@q(
    "padding_waste_docs",
    """
    WITH t AS (
      SELECT len(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g')), '\\s+'),
                 x -> x <> '')) AS n_tok
      FROM documents),
    b AS (
      SELECT CASE WHEN n_tok <= 16 THEN 16 WHEN n_tok <= 32 THEN 32
                  WHEN n_tok <= 48 THEN 48 WHEN n_tok <= 64 THEN 64
                  WHEN n_tok <= 96 THEN 96 ELSE 128 END AS bucket,
             LEAST(n_tok, 128) AS used
      FROM t)
    SELECT bucket, COUNT(*) AS n_docs,
           CAST(SUM(used) AS BIGINT) AS real_tokens,
           CAST(COUNT(*) * bucket AS BIGINT) AS padded_tokens,
           ROUND((COUNT(*) * bucket - SUM(used))
                 / CAST(COUNT(*) * bucket AS DOUBLE), 6) AS waste_frac
    FROM b GROUP BY bucket
    """,
)
def padding_waste_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching overhead (corpus.padding_waste): projection
    + one partial-agg shuffle over <= 5 bucket groups — the metric that
    picks training-batch bucket boundaries."""
    from tabsdata_spark.llm import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.padding_waste(docs, bucket_bounds=[16, 32, 48, 64, 96, 128])


@q(
    "ab_test_events",
    """
    WITH b AS (
      SELECT event_type,
             user_id % 2 = 0 AS cohort,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS m
      FROM events WHERE value IS NOT NULL),
    a AS (
      SELECT event_type,
             COUNT(CASE WHEN cohort THEN m END) AS n_a,
             CAST(SUM(CASE WHEN cohort THEN m END) AS DOUBLE) AS s1a,
             CAST(SUM(CASE WHEN cohort
                       THEN CAST(m AS HUGEINT) * m END) AS DOUBLE) AS s2a,
             COUNT(CASE WHEN NOT cohort THEN m END) AS n_b,
             CAST(SUM(CASE WHEN NOT cohort THEN m END) AS DOUBLE) AS s1b,
             CAST(SUM(CASE WHEN NOT cohort
                       THEN CAST(m AS HUGEINT) * m END) AS DOUBLE) AS s2b
      FROM b GROUP BY event_type),
    d AS (
      SELECT event_type, n_a, n_b,
             CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
             CASE WHEN n_a > 0
                  THEN (s1a / 1e6) / CAST(n_a AS DOUBLE) END AS ma,
             CASE WHEN n_b > 0
                  THEN (s1b / 1e6) / CAST(n_b AS DOUBLE) END AS mb,
             CASE WHEN n_a > 1
                  THEN ((s2a - s1a * s1a / CAST(n_a AS DOUBLE))
                        / (CAST(n_a AS DOUBLE) - 1)) / 1e12 END AS va,
             CASE WHEN n_b > 1
                  THEN ((s2b - s1b * s1b / CAST(n_b AS DOUBLE))
                        / (CAST(n_b AS DOUBLE) - 1)) / 1e12 END AS vb
      FROM a),
    e AS (SELECT *, CASE WHEN n_a > 1 AND n_b > 1
                         THEN va / na + vb / nb END AS se2 FROM d)
    SELECT event_type, n_a, n_b,
           ROUND(ma, 6) AS mean_a,
           ROUND(mb, 6) AS mean_b,
           CASE WHEN se2 > 0
                THEN ROUND((ma - mb) / SQRT(se2), 6) END AS t_stat,
           CASE WHEN se2 > 0
                THEN ROUND((se2 * se2)
                           / ((va / na) * (va / na) / (na - 1)
                              + (vb / nb) * (vb / nb) / (nb - 1)), 6)
                END AS dof
    FROM e
    """,
)
def ab_test_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-test per event_type between even/odd user-id
    cohorts (stats.welch_ttest): six conditional integer moment sums in
    ONE partial-agg shuffle, identical IEEE t/dof derivation in any
    engine — the A/B experiment primitive."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df.filter(F.col("value").isNotNull())
    b = ev.withColumn("cohort", F.col("user_id") % 2 == 0)
    return stats.welch_ttest(b, "value", "cohort", ["event_type"])


@q(
    "mi_lang_source_docs",
    """
    WITH cells AS (SELECT lang AS x, source AS y, COUNT(*) AS c
                   FROM documents GROUP BY 1, 2),
    rx AS (SELECT x, SUM(c) AS rx FROM cells GROUP BY x),
    cy AS (SELECT y, SUM(c) AS cy FROM cells GROUP BY y),
    n AS (SELECT SUM(c) AS n_total FROM cells),
    mi AS (
      SELECT COUNT(*) AS n_cells,
             SUM(CAST((CAST(c AS DOUBLE) / CAST(n_total AS DOUBLE))
                      * ln(CAST(c AS DOUBLE) * CAST(n_total AS DOUBLE)
                           / (CAST(rx AS DOUBLE) * CAST(cy AS DOUBLE)))
                  AS DECIMAL(28,14))) AS _mi
      FROM cells JOIN rx USING (x) JOIN cy USING (y), n),
    hx AS (SELECT SUM(CAST(-(CAST(rx AS DOUBLE) / CAST(n_total AS DOUBLE))
                           * ln(CAST(rx AS DOUBLE) / CAST(n_total AS DOUBLE))
                       AS DECIMAL(28,14))) AS _hx FROM rx, n),
    hy AS (SELECT SUM(CAST(-(CAST(cy AS DOUBLE) / CAST(n_total AS DOUBLE))
                           * ln(CAST(cy AS DOUBLE) / CAST(n_total AS DOUBLE))
                       AS DECIMAL(28,14))) AS _hy FROM cy, n)
    SELECT n_cells,
           ROUND(CAST(_mi AS DOUBLE), 6) AS mi_nats,
           ROUND(CAST(_hx AS DOUBLE), 6) AS h_x,
           ROUND(CAST(_hy AS DOUBLE), 6) AS h_y,
           ROUND(CAST(_mi AS DOUBLE)
                 / LEAST(CAST(_hx AS DOUBLE), CAST(_hy AS DOUBLE)), 6) AS nmi
    FROM mi, hx, hy
    """,
)
def mi_lang_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between lang and source labels
    (stats.mutual_information): cell table bounded by |langs|*|sources|,
    decimal-summed contributions (order-free), scalar crossJoins of 1-row
    broadcast frames — the label-redundancy diagnostic."""
    from tabsdata_spark import stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stats.mutual_information(docs, "lang", "source")


@q(
    "mmr_rerank_emb",
    """
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    qs AS (SELECT vec_id AS query_id, e AS qe FROM emb WHERE vec_id < 3),
    scored AS (
      SELECT q.query_id, c.vec_id, c.e,
             ROUND(list_cosine_similarity(c.e, q.qe), 6) AS rel
      FROM emb c, qs q),
    cand AS (
      SELECT query_id, vec_id, e, rel FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY rel DESC, vec_id) AS rn
        FROM scored) WHERE rn <= 21 AND vec_id <> query_id),
    ps AS (
      SELECT a.query_id, a.vec_id AS ida, b.vec_id AS idb,
             list_cosine_similarity(a.e, b.e) AS sim
      FROM cand a JOIN cand b ON a.query_id = b.query_id
                              AND a.vec_id <> b.vec_id),
    sel0 AS (SELECT query_id, vec_id FROM cand WHERE 1 = 0),
    s1 AS (
      SELECT query_id, vec_id, CAST(1 AS INTEGER) AS sel_rank,
             0.75 * rel - 0.25 * 0.0 AS score FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY 0.75 * rel - 0.25 * 0.0 DESC,
                                              vec_id) AS rn
        FROM cand) WHERE rn = 1),
    sel1 AS (SELECT query_id, vec_id FROM s1),
    m2 AS (
      SELECT c.query_id, c.vec_id, c.rel, MAX(ps.sim) AS ms
      FROM cand c
      JOIN sel1 s ON s.query_id = c.query_id
      JOIN ps ON ps.query_id = c.query_id AND ps.ida = c.vec_id
             AND ps.idb = s.vec_id
      WHERE NOT EXISTS (SELECT 1 FROM sel1 x
                        WHERE x.query_id = c.query_id
                          AND x.vec_id = c.vec_id)
      GROUP BY c.query_id, c.vec_id, c.rel),
    s2 AS (
      SELECT query_id, vec_id, CAST(2 AS INTEGER) AS sel_rank, score FROM (
        SELECT query_id, vec_id, 0.75 * rel - 0.25 * ms AS score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY 0.75 * rel - 0.25 * ms DESC,
                                           vec_id) AS rn
        FROM m2) WHERE rn = 1),
    sel2 AS (SELECT query_id, vec_id FROM sel1
               UNION ALL SELECT query_id, vec_id FROM s2),
    m3 AS (
      SELECT c.query_id, c.vec_id, c.rel, MAX(ps.sim) AS ms
      FROM cand c
      JOIN sel2 s ON s.query_id = c.query_id
      JOIN ps ON ps.query_id = c.query_id AND ps.ida = c.vec_id
             AND ps.idb = s.vec_id
      WHERE NOT EXISTS (SELECT 1 FROM sel2 x
                        WHERE x.query_id = c.query_id
                          AND x.vec_id = c.vec_id)
      GROUP BY c.query_id, c.vec_id, c.rel),
    s3 AS (
      SELECT query_id, vec_id, CAST(3 AS INTEGER) AS sel_rank, score FROM (
        SELECT query_id, vec_id, 0.75 * rel - 0.25 * ms AS score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY 0.75 * rel - 0.25 * ms DESC,
                                           vec_id) AS rn
        FROM m3) WHERE rn = 1),
    sel3 AS (SELECT query_id, vec_id FROM sel2
               UNION ALL SELECT query_id, vec_id FROM s3),
    m4 AS (
      SELECT c.query_id, c.vec_id, c.rel, MAX(ps.sim) AS ms
      FROM cand c
      JOIN sel3 s ON s.query_id = c.query_id
      JOIN ps ON ps.query_id = c.query_id AND ps.ida = c.vec_id
             AND ps.idb = s.vec_id
      WHERE NOT EXISTS (SELECT 1 FROM sel3 x
                        WHERE x.query_id = c.query_id
                          AND x.vec_id = c.vec_id)
      GROUP BY c.query_id, c.vec_id, c.rel),
    s4 AS (
      SELECT query_id, vec_id, CAST(4 AS INTEGER) AS sel_rank, score FROM (
        SELECT query_id, vec_id, 0.75 * rel - 0.25 * ms AS score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY 0.75 * rel - 0.25 * ms DESC,
                                           vec_id) AS rn
        FROM m4) WHERE rn = 1),
    sel4 AS (SELECT query_id, vec_id FROM sel3
               UNION ALL SELECT query_id, vec_id FROM s4),
    m5 AS (
      SELECT c.query_id, c.vec_id, c.rel, MAX(ps.sim) AS ms
      FROM cand c
      JOIN sel4 s ON s.query_id = c.query_id
      JOIN ps ON ps.query_id = c.query_id AND ps.ida = c.vec_id
             AND ps.idb = s.vec_id
      WHERE NOT EXISTS (SELECT 1 FROM sel4 x
                        WHERE x.query_id = c.query_id
                          AND x.vec_id = c.vec_id)
      GROUP BY c.query_id, c.vec_id, c.rel),
    s5 AS (
      SELECT query_id, vec_id, CAST(5 AS INTEGER) AS sel_rank, score FROM (
        SELECT query_id, vec_id, 0.75 * rel - 0.25 * ms AS score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY 0.75 * rel - 0.25 * ms DESC,
                                           vec_id) AS rn
        FROM m5) WHERE rn = 1),
    sel5 AS (SELECT query_id, vec_id FROM sel4
               UNION ALL SELECT query_id, vec_id FROM s5),
    allsel AS (
      SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL
      SELECT * FROM s3 UNION ALL SELECT * FROM s4 UNION ALL
      SELECT * FROM s5)
    SELECT query_id, sel_rank, vec_id, ROUND(score, 6) AS mmr_score
    FROM allsel
    """,
)
def mmr_rerank_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified top-5 per query via maximal marginal relevance
    (similarity.mmr_rerank, lambda=0.75): top-21 exact candidates per
    query (self excluded -> 20), then one Arrow applyInPandas greedy pass
    per bounded candidate group.  Oracle unrolls the 5 greedy steps as
    chained argmax CTEs over the same rounded relevances and unrounded
    pairwise cosines — selections and scores are bit-identical."""
    from tabsdata_spark.llm import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    top = sim.brute_force_topk(emb, qs, k=21)
    cand = (top.filter(F.col("vec_id") != F.col("query_id"))
            .withColumnRenamed("cosine", "rel")
            .join(emb.select("vec_id", "embedding"), "vec_id")
            .select("query_id", "vec_id", "rel", "embedding"))
    out = sim.mmr_rerank(cand, lam=0.75, k=5)
    return out.select("query_id", "sel_rank", "vec_id",
                      F.round(F.col("mmr_score"), 6).alias("mmr_score"))


@q(
    "cooccurrence_events",
    """
    WITH bi AS (SELECT DISTINCT user_id AS b, event_type AS i FROM events),
    n AS (SELECT COUNT(DISTINCT b) AS n_baskets FROM bi),
    marg AS (SELECT i, COUNT(*) AS n_item FROM bi GROUP BY i),
    pairs AS (SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS n_ab
              FROM bi a JOIN bi b ON a.b = b.b AND a.i < b.i
              GROUP BY 1, 2)
    SELECT item_a, item_b, n_ab,
           ROUND(CAST(n_ab AS DOUBLE) / CAST(n_baskets AS DOUBLE), 6)
             AS support,
           ROUND(CAST(n_ab AS DOUBLE) / CAST(ma.n_item AS DOUBLE), 6)
             AS confidence,
           ROUND(CAST(n_ab AS DOUBLE) * CAST(n_baskets AS DOUBLE)
                 / (CAST(ma.n_item AS DOUBLE) * CAST(mb.n_item AS DOUBLE)), 6)
             AS lift
    FROM pairs JOIN marg ma ON ma.i = item_a
               JOIN marg mb ON mb.i = item_b, n
    """,
)
def cooccurrence_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift between event types over user baskets
    (extensions.cooccurrence_lift): distinct (user, type) collapses with
    map-side combine before the basket-keyed self-join (fan-out bounded by
    per-user catalog size), marginals broadcast."""
    from tabsdata_spark.extensions import cooccurrence_lift

    ev = load_events(spark, sf_dir).df
    return cooccurrence_lift(ev, "user_id", "event_type")


@q(
    "resample_ffill_events",
    """
    WITH src AS (SELECT user_id, ts, value FROM events WHERE user_id % 50 = 0),
    b AS (SELECT user_id, date_trunc('hour', MIN(ts)) AS lo,
                 date_trunc('hour', MAX(ts)) AS hi
          FROM src GROUP BY user_id),
    grid AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                    AS grid_ts
             FROM b),
    u AS (
      SELECT user_id, ts AS grid_ts, 0 AS tag, value AS v FROM src
      UNION ALL SELECT user_id, grid_ts, 1, NULL FROM grid),
    f AS (SELECT user_id, grid_ts, tag,
                 LAST_VALUE(v IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY grid_ts, tag, v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS value_ffill
          FROM u)
    SELECT user_id, grid_ts, value_ffill FROM f WHERE tag = 1
    """,
)
def resample_ffill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-user resampling with forward fill
    (extensions.resample_ffill) over a 1-in-50 user sample: grid bounds
    from one per-key agg, sequence-exploded grid (span/step rows,
    data-size independent), union + ONE per-key last-ignorenulls window —
    the asof_join formulation, no per-key pandas."""
    from tabsdata_spark.extensions import resample_ffill

    ev = load_events(spark, sf_dir).df.filter(F.col("user_id") % 50 == 0)
    return resample_ffill(ev.select("user_id", "ts", "value"),
                          "user_id", "ts", "value", step="1 hour")


@q(
    "winsorize_events",
    """
    WITH qs AS (
      SELECT event_type,
             quantile_cont(value, 0.01) AS q_lo,
             quantile_cont(value, 0.99) AS q_hi
      FROM events GROUP BY event_type),
    j AS (
      SELECT e.event_id, e.event_type, e.value, qs.q_lo, qs.q_hi,
             LEAST(GREATEST(e.value, qs.q_lo), qs.q_hi) AS w
      FROM events e JOIN qs USING (event_type))
    SELECT event_id, event_type, ROUND(value, 6) AS value,
           ROUND(q_lo, 6) AS q_lo, ROUND(q_hi, 6) AS q_hi,
           ROUND(w, 6) AS value_w
    FROM j WHERE w <> value
    """,
)
def winsorize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorization at exact [p01, p99] (stats.winsorize):
    two-quantile partial agg + broadcast bounds; emits only the clipped
    tail rows (filter on the unrounded clip)."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    out = stats.winsorize(ev, "value", ["event_type"], lo=0.01, hi=0.99)
    return (out.filter(F.col("value_w") != F.col("value"))
            .select("event_id", "event_type",
                    F.round("value", 6).alias("value"),
                    F.round("q_lo", 6).alias("q_lo"),
                    F.round("q_hi", 6).alias("q_hi"),
                    F.round("value_w", 6).alias("value_w")))


@q(
    "benford_prices",
    """
    WITH base AS (
      SELECT l_returnflag,
             CAST(FLOOR(l_extendedprice * 1e6 + 0.5) AS BIGINT) AS m
      FROM lineitem WHERE FLOOR(l_extendedprice * 1e6 + 0.5) > 0),
    counts AS (
      SELECT l_returnflag,
             CAST(SUBSTRING(CAST(m AS VARCHAR), 1, 1) AS INTEGER) AS digit,
             COUNT(*) AS obs
      FROM base GROUP BY 1, 2),
    totals AS (SELECT l_returnflag, SUM(obs) AS n_total
               FROM counts GROUP BY 1),
    grid AS (SELECT l_returnflag, n_total,
                    CAST(unnest(range(1, 10)) AS INTEGER) AS digit
             FROM totals),
    filled AS (
      SELECT g.l_returnflag, g.n_total, g.digit,
             COALESCE(c.obs, 0) AS obs
      FROM grid g LEFT JOIN counts c
        ON c.l_returnflag = g.l_returnflag AND c.digit = g.digit),
    contrib AS (
      SELECT l_returnflag, n_total,
             CAST(((CAST(obs AS DOUBLE)
                    - CAST(n_total AS DOUBLE)
                      * log10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
                   * (CAST(obs AS DOUBLE)
                      - CAST(n_total AS DOUBLE)
                        * log10(1.0 + 1.0 / CAST(digit AS DOUBLE))))
                  / (CAST(n_total AS DOUBLE)
                     * log10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
                  AS DECIMAL(28,14)) AS c
      FROM filled)
    SELECT l_returnflag, CAST(MIN(n_total) AS BIGINT) AS n,
           ROUND(CAST(SUM(c) AS DOUBLE), 6) AS chi2
    FROM contrib GROUP BY l_returnflag
    """,
)
def benford_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit Benford chi-square per return flag
    (stats.benford_deviation): digit from the micros-quantized integer's
    string form (engine-identical), zero-count digits contribute via the
    1..9 grid, decimal-summed contributions."""
    from tabsdata_spark import stats

    li = load(spark, sf_dir, "lineitem").df
    return stats.benford_deviation(li, "l_extendedprice", ["l_returnflag"])


@q(
    "markov_events",
    """
    WITH seq AS (
      SELECT event_type AS state,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_state
      FROM events),
    pairs AS (
      SELECT state, next_state, COUNT(*) AS n_ab
      FROM seq WHERE next_state IS NOT NULL
      GROUP BY state, next_state),
    deg AS (SELECT state, SUM(n_ab) AS n_a FROM pairs GROUP BY state)
    SELECT p.state, p.next_state, p.n_ab,
           ROUND(CAST(p.n_ab AS DOUBLE) / CAST(d.n_a AS DOUBLE), 6) AS p
    FROM pairs p JOIN deg d USING (state)
    """,
)
def markov_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences
    (extensions.markov_transitions): one key shuffle + lead window, pair
    counts bounded by |states|^2, out-degrees broadcast."""
    from tabsdata_spark.extensions import markov_transitions

    ev = load_events(spark, sf_dir).df
    return markov_transitions(ev, "user_id", "ts", "event_type",
                              tie_cols=["event_id"])


@q(
    "session_paths_events",
    """
    WITH marked AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN lag(ts) OVER w IS NULL THEN 1
                  WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > 1800000000 THEN 1
                  ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, event_id, ts, event_type,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS s
      FROM marked),
    paths AS (
      SELECT string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM sess GROUP BY user_id, s),
    counted AS (SELECT path, COUNT(*) AS n_sessions
                FROM paths GROUP BY path)
    SELECT path, n_sessions FROM counted
    ORDER BY n_sessions DESC, path LIMIT 20
    """,
)
def session_paths_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 clickstream session paths (extensions.session_paths, 30-min
    gap): one user shuffle serves both session windows, per-session
    sequences from post-agg array_sort (total order), final top-k is
    TakeOrderedAndProject."""
    from tabsdata_spark.extensions import session_paths

    ev = load_events(spark, sf_dir).df
    return session_paths(ev, "user_id", "ts", "event_type",
                         gap_seconds=1800, tie_cols=["event_id"], top=20)


@q(
    "vocab_coverage_docs",
    f"""
    WITH {_TOKS_CTE},
    counts AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total_tokens FROM counts),
    ranked AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rn
               FROM counts),
    ks(k) AS (VALUES (100), (1000), (5000))
    SELECT ks.k AS k,
           CAST((SELECT SUM(c) FROM ranked WHERE rn <= ks.k) AS BIGINT)
             AS covered_tokens,
           tot.total_tokens,
           ROUND(CAST((SELECT SUM(c) FROM ranked WHERE rn <= ks.k)
                      AS DOUBLE)
                 / CAST(tot.total_tokens AS DOUBLE), 6) AS coverage
    FROM ks, tot
    """,
)
def vocab_coverage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve at k in {100, 1000, 5000}
    (corpus.vocab_coverage): one term-count shuffle feeds every k, each
    cut a TakeOrderedAndProject + scalar sum — no global window over the
    vocabulary."""
    from tabsdata_spark.llm import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.vocab_coverage(docs, ks=[100, 1000, 5000])


@q(
    "key_skew_orders",
    """
    WITH counts AS (
      SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey)
    SELECT COUNT(*) AS n_keys,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(MAX(n) AS BIGINT) AS max_per_key,
           ROUND(quantile_cont(n, 0.5), 6) AS p50_per_key,
           ROUND(quantile_cont(n, 0.99), 6) AS p99_per_key,
           ROUND(CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6)
             AS top_key_share,
           ROUND(CAST(MAX(n) AS DOUBLE)
                 / (CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)), 6)
             AS skew_ratio
    FROM counts
    """,
)
def key_skew_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic on orders.o_custkey
    (scale.key_skew_report): per-key counts in one partial-agg shuffle,
    scalar stats over the key table — the decision input for plain vs
    AQE-skew vs salted joins."""
    from tabsdata_spark.scale import key_skew_report

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return key_skew_report(orders, "o_custkey")


@q(
    "heldout_lm_docs",
    r"""
    WITH tr AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
    te AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
    tr_bi AS (
      SELECT bigram, COUNT(*) AS c2_raw FROM (
        SELECT t.toks[i] || ' ' || t.toks[i + 1] AS bigram
        FROM (SELECT list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')), '\s+'),
                     x -> x <> '') AS toks
              FROM tr) t,
             LATERAL unnest(range(1, greatest(len(t.toks), 1))) AS u(i)
        WHERE len(t.toks) >= 2)
      GROUP BY bigram),
    c2 AS (SELECT bigram, c2_raw AS c2,
                  split_part(bigram, ' ', 1) AS w1
           FROM tr_bi),
    c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY w1),
    v AS (SELECT COUNT(*) AS v FROM c1),
    te_bi AS (
      SELECT doc_id, bigram, COUNT(*) AS tf FROM (
        SELECT d.doc_id, t.toks[i] || ' ' || t.toks[i + 1] AS bigram
        FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')), '\s+'),
                     x -> x <> '') AS toks
              FROM te) t
        JOIN te d ON d.doc_id = t.doc_id,
             LATERAL unnest(range(1, greatest(len(t.toks), 1))) AS u(i)
        WHERE len(t.toks) >= 2)
      GROUP BY doc_id, bigram),
    sc AS (
      SELECT te_bi.doc_id, te_bi.tf,
             log2((COALESCE(c2.c2, 0) + 0.5)
                  / (COALESCE(c1.c1, 0) + 0.5 * v.v)) AS logp
      FROM te_bi
      LEFT JOIN c2 ON c2.bigram = te_bi.bigram
      LEFT JOIN c1 ON c1.w1 = split_part(te_bi.bigram, ' ', 1), v)
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
           ROUND(-SUM(tf * logp) / SUM(tf), 6) AS cross_entropy,
           ROUND(POWER(2.0, ROUND(-SUM(tf * logp) / SUM(tf), 6)), 4)
             AS perplexity
    FROM sc GROUP BY doc_id
    """,
)
def heldout_lm_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram-LM scoring (corpus.bigram_lm_score with a separate
    training corpus): model trained on even doc_ids scores the odd ones;
    unseen bigrams/prefixes back off through the same add-k formula
    (coalesce-to-zero counts), one extra left join on the prefix."""
    from tabsdata_spark.llm import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    return corpus.bigram_lm_score(test, train_docs=train)


@q(
    "ngram_novelty_docs",
    f"""
    WITH {_shingle_cte(3, "sh3")},
    g AS (SELECT doc_id, unnest(grams) AS gram FROM sh3),
    rg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 2 = 0)
    SELECT g.doc_id AS doc_id,
           COUNT(*) AS n_grams,
           COUNT(CASE WHEN rg.gram IS NULL THEN 1 END) AS n_novel,
           ROUND(CAST(COUNT(CASE WHEN rg.gram IS NULL THEN 1 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
    FROM g LEFT JOIN rg USING (gram)
    WHERE g.doc_id % 2 = 1
    GROUP BY g.doc_id
    """,
)
def ngram_novelty_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram novelty of odd docs against the even-doc reference corpus
    (decontam.ngram_novelty): gram-keyed join with NO broadcast hint —
    the reference is corpus-sized, unlike decontamination's eval set."""
    from tabsdata_spark.llm import decontam
    from tabsdata_spark.scale import fan_out

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    score = fan_out(docs.filter(F.col("doc_id") % 2 == 1))
    return decontam.ngram_novelty(score, ref, n=3)


@q(
    "cluster_quality_emb",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings),
    d AS (SELECT label, i AS dim, v[i + 1] AS val
          FROM e, LATERAL unnest(range(0, len(v))) AS u(i)),
    coords AS (
      SELECT label, dim,
             CAST(SUM(CAST(val AS DECIMAL(28,14))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS coord
      FROM d GROUP BY label, dim),
    cents AS (SELECT label, list(coord ORDER BY dim) AS c
              FROM coords GROUP BY label),
    intra AS (
      SELECT e.label, COUNT(*) AS n_points,
             CAST(SUM(CAST(sqrt(list_sum(list_transform(
                    list_zip(e.v, cents.c),
                    p -> (p[1] - p[2]) * (p[1] - p[2]))))
                  AS DECIMAL(28,14))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS intra_mean
      FROM e JOIN cents USING (label)
      GROUP BY e.label),
    inter AS (
      SELECT a.label,
             MIN(sqrt(list_sum(list_transform(list_zip(a.c, b.c),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))))) AS nearest_other
      FROM cents a JOIN cents b ON a.label <> b.label
      GROUP BY a.label)
    SELECT intra.label, n_points,
           ROUND(intra_mean, 6) AS intra_mean,
           ROUND(nearest_other, 6) AS nearest_other,
           ROUND(nearest_other / intra_mean, 6) AS separation
    FROM intra JOIN inter USING (label)
    """,
)
def cluster_quality_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label separation diagnostic (cluster.cluster_quality,
    silhouette-lite): decimal-summed centroids and intra means, the same
    sequential distance fold as kmeans, centroid-pair grid |labels|^2."""
    from tabsdata_spark.llm import cluster

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cluster.cluster_quality(emb, "label")


@q(
    "attribution_events",
    """
    WITH j AS (
      SELECT l.event_id, l.user_id, l.ts, l.value,
             r.event_id AS view_event, r.ts AS view_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') l
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
        ON l.user_id = r.user_id AND l.ts >= r.ts)
    SELECT view_event,
           COUNT(*) AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS attributed_revenue
    FROM j
    WHERE view_ts IS NOT NULL
      AND epoch_us(ts) - epoch_us(view_ts) <= 604800000000
    GROUP BY view_event
    """,
)
def attribution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution report: each purchase credits the user's
    most recent prior view within 7 days (asof_join backward + exact
    integer-micros window filter), revenue decimal-summed per view —
    the composition pattern the as-of extension exists for."""
    from tabsdata_spark.extensions import asof_join

    ev = load_events(spark, sf_dir).df
    purchases = ev.filter(F.col("event_type") == "purchase") \
        .select("event_id", "user_id", "ts", "value")
    views = ev.filter(F.col("event_type") == "view") \
        .select(F.col("event_id").alias("view_event"), "user_id", "ts")
    j = asof_join(purchases, views, on="ts", by="user_id")
    within = (F.unix_micros(F.col("ts"))
              - F.unix_micros(F.col("ts_right"))) <= 604800000000
    return (j.filter(F.col("ts_right").isNotNull() & within)
            .groupBy("view_event")
            .agg(F.count(F.lit(1)).alias("n_purchases"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                 .cast("double").alias("attributed_revenue")))


@q(
    "ship_latency_orders",
    """
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(MIN(date_diff('day', o.o_orderdate, l.l_shipdate))
                AS BIGINT) AS min_days,
           ROUND(quantile_cont(date_diff('day', o.o_orderdate, l.l_shipdate),
                               0.5), 6) AS p50_days,
           ROUND(quantile_cont(date_diff('day', o.o_orderdate, l.l_shipdate),
                               0.99), 6) AS p99_days,
           CAST(MAX(date_diff('day', o.o_orderdate, l.l_shipdate))
                AS BIGINT) AS max_days
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def ship_latency_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per priority: integer day gaps
    (DATE difference — exact, no timestamp ambiguity), exact interpolated
    percentiles; one fact-dim join shuffled on orderkey + one partial agg
    on the 5 priorities."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .select("o_orderkey", "o_orderpriority", "o_orderdate")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
        .select("l_orderkey", "l_shipdate")
    gap = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select("o_orderpriority", gap.alias("__gap"))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.min("__gap").cast("bigint").alias("min_days"),
                 F.round(F.expr("percentile(__gap, 0.5d)"), 6)
                 .alias("p50_days"),
                 F.round(F.expr("percentile(__gap, 0.99d)"), 6)
                 .alias("p99_days"),
                 F.max("__gap").cast("bigint").alias("max_days")))


@q(
    "growth_curve_events",
    """
    WITH first AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id),
    daily AS (
      SELECT first_day, COUNT(*) AS new_keys FROM first GROUP BY first_day)
    SELECT first_day, new_keys,
           CAST(SUM(new_keys) OVER (ORDER BY first_day
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_keys
    FROM daily ORDER BY first_day
    """,
)
def growth_curve_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-user acquisition + cumulative total
    (extensions.growth_curve): key-shuffle first-seen, day-level
    re-aggregate, cumulative window over the bounded day table."""
    from tabsdata_spark.extensions import growth_curve

    ev = load_events(spark, sf_dir).df
    return growth_curve(ev, "user_id", "ts")


@q(
    "wau_events",
    """
    WITH pairs AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
    mx AS (SELECT MAX(CAST(ts AS DATE)) AS max_d FROM events),
    ends AS (
      SELECT unnest(generate_series(d, d + INTERVAL 6 DAY,
                                    INTERVAL 1 DAY))::DATE AS day, user_id
      FROM pairs)
    SELECT day, COUNT(DISTINCT user_id) AS active_keys
    FROM ends, mx WHERE day <= max_d
    GROUP BY day
    """,
)
def wau_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day active users per day (extensions.rolling_active):
    explode-forward of distinct (day, user) pairs — bounded fan-out of 7,
    no self/range join, no per-day distinct state."""
    from tabsdata_spark.extensions import rolling_active

    ev = load_events(spark, sf_dir).df
    return rolling_active(ev, "user_id", "ts", window_days=7)


@q(
    "gini_customers",
    """
    WITH totals AS (
      SELECT c.c_nationkey AS g, o.o_custkey AS k,
             SUM(CAST(o.o_totalprice AS DECIMAL(28,6))) AS x
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT g, x, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x, k) AS i
      FROM totals),
    a AS (
      SELECT g, COUNT(*) AS n,
             SUM(x) AS sx,
             SUM(CAST(CAST(i AS DECIMAL(28,6)) * x AS DECIMAL(38,6))) AS six
      FROM ranked GROUP BY g)
    SELECT g AS c_nationkey, n,
           ROUND(CAST(sx AS DOUBLE), 2) AS total_value,
           ROUND(2.0 * CAST(six AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
                 - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6)
             AS gini
    FROM a
    """,
)
def gini_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-nation revenue concentration (extensions.gini_by_group):
    decimal customer totals, group-partitioned rank window (never
    global), decimal rank-weighted sums — identical IEEE Gini."""
    from tabsdata_spark.extensions import gini_by_group

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet") \
        .select("c_custkey", "c_nationkey")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)
    return gini_by_group(j, "c_nationkey", "o_custkey", "o_totalprice")


@q(
    "rfm_customers",
    """
    WITH prof AS (
      SELECT o_custkey AS k,
             MAX(CAST(o_orderdate AS DATE)) AS last_d,
             COUNT(*) AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS m
      FROM orders GROUP BY o_custkey),
    mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
    p AS (SELECT k, date_diff('day', last_d, maxd) AS recency_days,
                 frequency, CAST(m AS DOUBLE) AS monetary, m
          FROM prof, mx),
    qs AS (SELECT quantile_cont(recency_days, [0.25, 0.5, 0.75]) AS qr,
                  quantile_cont(frequency, [0.25, 0.5, 0.75]) AS qf,
                  quantile_cont(monetary, [0.25, 0.5, 0.75]) AS qm
           FROM p),
    s AS (
      SELECT CAST(5 - (CASE WHEN recency_days <= qr[1] THEN 1
                            WHEN recency_days <= qr[2] THEN 2
                            WHEN recency_days <= qr[3] THEN 3
                            ELSE 4 END) AS VARCHAR)
             || CAST(CASE WHEN frequency <= qf[1] THEN 1
                          WHEN frequency <= qf[2] THEN 2
                          WHEN frequency <= qf[3] THEN 3
                          ELSE 4 END AS VARCHAR)
             || CAST(CASE WHEN monetary <= qm[1] THEN 1
                          WHEN monetary <= qm[2] THEN 2
                          WHEN monetary <= qm[3] THEN 3
                          ELSE 4 END AS VARCHAR) AS segment,
             m
      FROM p, qs)
    SELECT segment, COUNT(*) AS n_keys,
           CAST(SUM(m) AS DOUBLE) AS total_value
    FROM s GROUP BY segment
    """,
)
def rfm_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation of customers by order history
    (extensions.rfm_segments): per-key profile in one shuffle, exact
    quartile thresholds BROADCAST (no partitionless ntile window),
    per-segment rollup."""
    from tabsdata_spark.extensions import rfm_segments

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return rfm_segments(orders, "o_custkey", "o_orderdate", "o_totalprice")


@q(
    "seasonality_events",
    """
    WITH b AS (
      SELECT event_type, isodow(ts) - 1 AS weekday,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS m
      FROM events),
    cells AS (
      SELECT event_type, weekday,
             COUNT(m) AS n, SUM(m) AS s
      FROM b GROUP BY event_type, weekday),
    tot AS (SELECT event_type, SUM(n) AS tn FROM cells GROUP BY event_type)
    SELECT cells.event_type, weekday, n,
           ROUND((CAST(s AS DOUBLE) / 1e6) / CAST(n AS DOUBLE), 6)
             AS mean_value,
           ROUND(CAST(n AS DOUBLE) / CAST(tn AS DOUBLE), 6) AS share
    FROM cells JOIN tot USING (event_type)
    """,
)
def seasonality_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week load profile per event type
    (extensions.weekly_seasonality): ISO weekday (engine-portable),
    micros-integer mean, share of weekly volume; one |groups|*7-cell
    partial agg."""
    from tabsdata_spark.extensions import weekly_seasonality

    ev = load_events(spark, sf_dir).df
    return weekly_seasonality(ev, "event_type", "ts", "value")


@q(
    "dup_size_histogram_docs",
    """
    WITH fp AS (
      SELECT doc_id,
             array_to_string(list_sort(list_distinct(
               list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g')), '\\s+'),
                           x -> x <> ''))), ' ') AS k
      FROM documents),
    sizes AS (SELECT k, COUNT(*) AS cluster_size FROM fp GROUP BY k),
    hist AS (SELECT cluster_size, COUNT(*) AS n_clusters
             FROM sizes GROUP BY cluster_size),
    t AS (SELECT COUNT(*) AS total FROM documents)
    SELECT cluster_size, n_clusters,
           CAST(cluster_size * n_clusters AS BIGINT) AS n_docs,
           ROUND(CAST(cluster_size * n_clusters AS DOUBLE)
                 / CAST(total AS DOUBLE), 6) AS doc_share
    FROM hist, t
    """,
)
def dup_size_histogram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution under the normalized-token
    fingerprint (dedup.duplicate_size_histogram): the dedup audit report
    — two partial aggs, broadcast total."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.duplicate_size_histogram(
        docs, textual.fingerprint(F.col("text")))


@q(
    "hourly_load_events",
    """
    SELECT EXTRACT(hour FROM ts) AS hour_of_day,
           COUNT(*) AS n,
           ROUND(quantile_cont(value, 0.5), 6) AS p50_value,
           ROUND(quantile_cont(value, 0.95), 6) AS p95_value,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events WHERE value IS NOT NULL
    GROUP BY 1
    """,
)
def hourly_load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day load bands: exact interpolated p50/p95 of value plus
    decimal-summed totals per hour — the capacity-planning curve; one
    24-group partial agg, engine-portable hour extraction."""
    ev = load_events(spark, sf_dir).df.filter(F.col("value").isNotNull())
    return (ev.groupBy(F.hour("ts").cast("bigint").alias("hour_of_day"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.expr("percentile(value, 0.5d)"), 6)
                 .alias("p50_value"),
                 F.round(F.expr("percentile(value, 0.95d)"), 6)
                 .alias("p95_value"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                 .cast("double").alias("total_value")))


# ===========================================================================
# round-4 additions: LIVE streaming operators, driver-verifiable
# (VERDICT r3 item #5 — streaming deserves the same hard signal as its
# batch twins; each runs the REAL Structured Streaming operator with an
# availableNow trigger and returns the collected sink as a DataFrame)
# ===========================================================================
@q(
    "stream_anomaly_events",
    """
    WITH base AS (
      SELECT event_id, user_id, ts, value,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS m
      FROM events WHERE user_id < 40),
    wnd AS (
      SELECT event_id, user_id, value,
             COUNT(m) OVER w AS n,
             CAST(SUM(m) OVER w AS DOUBLE) AS s1,
             CAST(SUM(CAST(m AS HUGEINT) * m) OVER w AS DOUBLE) AS s2
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
    v AS (
      SELECT event_id, user_id, value,
             (s1 / 1e6) / CAST(n AS DOUBLE) AS mean,
             ((s2 - s1 * s1 / CAST(n AS DOUBLE))
              / (CAST(n AS DOUBLE) - 1)) / 1e12 AS var
      FROM wnd WHERE n >= 8),
    z AS (
      SELECT event_id, user_id, value, mean, SQRT(var) AS std
      FROM v WHERE var > 0)
    SELECT event_id, user_id, value,
           ROUND((value - mean) / std, 6) AS zscore
    FROM z
    WHERE ABS((value - mean) / std) > 2.5
    """,
)
def stream_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE stateful streaming anomaly detection
    (streaming/bus.py stream_anomaly_flag, applyInPandasWithState): the
    events slice is written time-ordered to a temp dir, streamed back
    with an availableNow trigger, and the per-key trailing-window state
    machine scores every row.  The oracle is the BATCH integer-moment
    z-score SQL — the operator's documented bit-for-bit parity contract
    with extensions.rolling_zscore, now held to a driver-grade value
    hash instead of only a pytest parity assertion.  Collected sink is
    bounded by the anomaly count."""
    import tempfile

    from tabsdata_spark.streaming import bus

    ev = (load_events(spark, sf_dir).df
          .filter(F.col("user_id") < 40)
          .select("event_id", "user_id", "ts", "value")
          .orderBy("ts", "event_id"))
    tmp = tempfile.mkdtemp(prefix="td_stream_anom_")
    ev.coalesce(1).write.parquet(f"{tmp}/src/b1")
    schema = "event_id long, user_id long, ts timestamp, value double"
    stream = bus.stream_file_source(spark, f"{tmp}/src/*", schema)
    out = bus.stream_anomaly_flag(stream, "user_id", "ts", "value",
                                  "event_id", window=20, min_periods=8,
                                  threshold=2.5)
    rows: list = []
    qy = (out.writeStream.outputMode("update")
          .foreachBatch(lambda b, i: rows.extend(b.collect()))
          .option("checkpointLocation", f"{tmp}/ckpt")
          .trigger(availableNow=True).start())
    qy.awaitTermination(300)
    res = spark.createDataFrame(
        [(r["event_id"], r["k"], r["value"], r["zscore"]) for r in rows],
        "event_id long, user_id long, value double, zscore double")
    return res.select("event_id", "user_id", "value",
                      F.round("zscore", 6).alias("zscore"))


@q(
    "stream_near_dup_events",
    r"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3
                  THEN list_transform(range(1, len(toks) - 1),
                       i -> array_to_string(toks[i:i+2], ' '))
                  ELSE [array_to_string(toks, ' ')] END) AS shingles
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS toks
            FROM documents)),
    sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
    inter AS (
      SELECT n.doc_id AS doc_id, c.doc_id AS match_id, COUNT(*) AS shared
      FROM ex n JOIN ex c ON n.g = c.g
      WHERE n.doc_id >= 250 AND c.doc_id < 250
      GROUP BY 1, 2),
    j AS (
      SELECT inter.doc_id, match_id,
             ROUND(shared / CAST(sa.n + sb.n - shared AS DOUBLE), 6) AS jaccard
      FROM inter
      JOIN sz sa ON sa.doc_id = inter.doc_id
      JOIN sz sb ON sb.doc_id = inter.match_id
      WHERE shared / CAST(sa.n + sb.n - shared AS DOUBLE) >= 0.5)
    SELECT doc_id, match_id, jaccard
    FROM j
    QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY jaccard DESC, match_id ASC) = 1
    """,
)
def stream_near_dup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE streaming near-dup flagging (streaming/bus.py
    stream_near_dup_flag) + the documented batch follow-up: the new batch
    (doc_id >= 250) streams through the banded-LSH flagger against the
    static corpus (< 250), then ONLY the flagged trickle goes through the
    exact n-gram Jaccard verify (llm/dedup.py incremental_near_dup).  The
    oracle is the exact inverted-index jaccard join — green iff the
    streaming flagger's candidate recall is total on this corpus (the
    same recall pin the batch twin incremental_near_dup_docs carries) and
    the verify removes every LSH false positive."""
    import tempfile

    from tabsdata_spark.streaming import bus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 250)
    batch = docs.filter(F.col("doc_id") >= 250).select(
        "doc_id", "text",
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias("ts"))
    tmp = tempfile.mkdtemp(prefix="td_stream_ndup_")
    batch.coalesce(1).write.parquet(f"{tmp}/src/b1")
    stream = bus.stream_file_source(
        spark, f"{tmp}/src/*", "doc_id long, text string, ts timestamp")
    out = bus.stream_near_dup_flag(stream, corpus, id_col="doc_id",
                                   text_col="text", ts_col="ts")
    flagged: list = []
    qy = (out.writeStream.outputMode("append")
          .foreachBatch(lambda b, i: flagged.extend(
              r["doc_id"] for r in b.select("doc_id").collect()))
          .option("checkpointLocation", f"{tmp}/ckpt")
          .trigger(availableNow=True).start())
    qy.awaitTermination(300)
    trickle = batch.filter(F.col("doc_id").isin(flagged or [-1]))
    return dedup.incremental_near_dup(trickle.drop("ts"), corpus,
                                      threshold=0.5)


@q(
    "mann_whitney_events",
    """
    WITH b AS (
      SELECT event_type, user_id % 2 = 0 AS cohort,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS m
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
    per AS (
      SELECT event_type, m, COUNT(*) AS c,
             COUNT(CASE WHEN cohort THEN 1 END) AS ca
      FROM b GROUP BY 1, 2),
    r AS (
      SELECT event_type, c, ca,
             SUM(c) OVER (PARTITION BY event_type ORDER BY m
                          ROWS UNBOUNDED PRECEDING) - c AS less
      FROM per),
    a AS (
      SELECT event_type,
             CAST(SUM(CAST(ca AS HUGEINT) * (2 * less + c + 1)) AS DOUBLE)
                 AS r2a,
             CAST(SUM(ca) AS BIGINT) AS n_a,
             CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(CAST(c AS HUGEINT) * c * c - c) AS DOUBLE) AS tie
      FROM r GROUP BY 1),
    d AS (
      SELECT event_type, n_a, n - n_a AS n_b,
             CAST(n_a AS DOUBLE) AS na, CAST(n AS DOUBLE) AS nn,
             CAST(n - n_a AS DOUBLE) AS nb, r2a, tie
      FROM a),
    s AS (
      SELECT event_type, n_a, n_b, na, nn, nb,
             r2a / 2.0 - (na * (na + 1.0)) / 2.0 AS u_a,
             CASE WHEN nn > 1.0
                  THEN (na * nb / 12.0)
                       * ((nn + 1.0) - tie / (nn * (nn - 1.0))) END AS sig2
      FROM d)
    SELECT event_type, n_a, n_b,
           ROUND(u_a, 6) AS u_stat,
           CASE WHEN sig2 > 0.0
                THEN ROUND((u_a - 0.5 * na * nb) / SQRT(sig2), 6)
                END AS z_score
    FROM s
    """,
)
def mann_whitney_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Mann-Whitney U per event_type between even/odd user
    cohorts (stats.mann_whitney_u): the nonparametric A/B primitive —
    integer tie cells, doubled average ranks, decimal(38,0) moment sums,
    identical IEEE U/z derivation in any engine or partitioning."""
    from tabsdata_spark import stats

    ev = (load_events(spark, sf_dir).df
          .filter(F.col("value").isNotNull() & F.col("user_id").isNotNull()))
    b = ev.withColumn("cohort", (F.col("user_id") % 2) == 0)
    return stats.mann_whitney_u(b, "value", "cohort", ["event_type"])


@q(
    "chi_squared_events",
    """
    WITH b AS (
      SELECT event_type AS a, EXTRACT(hour FROM ts) AS h
      FROM events WHERE event_type IS NOT NULL),
    cells AS (SELECT a, h, COUNT(*) AS o FROM b GROUP BY 1, 2),
    rows_ AS (SELECT a, SUM(o) AS ri FROM cells GROUP BY 1),
    cols_ AS (SELECT h, SUM(o) AS cj FROM cells GROUP BY 1),
    tot AS (SELECT SUM(o) AS n, COUNT(DISTINCT a) AS r,
                   COUNT(DISTINCT h) AS c FROM cells),
    grid AS (
      SELECT rows_.a, cols_.h, ri, cj, COALESCE(o, 0) AS o
      FROM rows_ CROSS JOIN cols_
      LEFT JOIN cells ON cells.a = rows_.a AND cells.h = cols_.h),
    contrib AS (
      SELECT CAST(FLOOR((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e)
                        / e * 1e9 + 0.5) AS HUGEINT) AS cm
      FROM (SELECT o, CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE)
                      / CAST(n AS DOUBLE) AS e
            FROM grid, tot)),
    agg AS (SELECT CAST(SUM(cm) AS DOUBLE) / 1e9 AS chi2 FROM contrib)
    SELECT CAST(n AS BIGINT) AS n,
           CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
           ROUND(chi2, 6) AS chi2,
           CASE WHEN LEAST(r - 1, c - 1) > 0
                THEN ROUND(SQRT(chi2 / (CAST(n AS DOUBLE)
                     * CAST(LEAST(r - 1, c - 1) AS DOUBLE))), 6)
                END AS cramers_v
    FROM agg, tot
    """,
)
def chi_squared_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence of event_type x hour-of-day
    (stats.chi_squared_independence) with Cramer's V: full r x c grid
    (absent cells enter with o=0), nanos-quantized decimal-summed cell
    contributions — chi2 independent of partial-agg order."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    b = ev.select("event_type", F.hour("ts").alias("hod"))
    return stats.chi_squared_independence(b, "event_type", "hod")


@q(
    "changepoint_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c,
             SUM(CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT)) AS s
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    w AS (
      SELECT event_type, day,
             SUM(c) OVER cum AS cl, SUM(s) OVER cum AS slh,
             SUM(c) OVER tot AS cn, SUM(s) OVER tot AS snh
      FROM daily
      WINDOW cum AS (PARTITION BY event_type ORDER BY day
                     ROWS UNBOUNDED PRECEDING),
             tot AS (PARTITION BY event_type
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND UNBOUNDED FOLLOWING)),
    sc AS (
      SELECT event_type, day, cl, cn,
             CAST(cl AS DOUBLE) AS nl, CAST(cn AS DOUBLE) AS nn,
             CAST(cn - cl AS DOUBLE) AS nr,
             CAST(slh AS DOUBLE) AS sl, CAST(snh - slh AS DOUBLE) AS sr
      FROM w),
    st AS (
      SELECT event_type, day, cl, cn - cl AS cr,
             (sl / 1e6) / nl AS ml, (sr / 1e6) / nr AS mr,
             ABS((sl / 1e6) / nl - (sr / 1e6) / nr)
                 * SQRT(nl * nr / nn) AS stat
      FROM sc WHERE nl > 0 AND nr > 0)
    SELECT event_type, day AS change_day,
           CAST(cl AS BIGINT) AS n_before, CAST(cr AS BIGINT) AS n_after,
           ROUND(ml, 6) AS mean_before, ROUND(mr, 6) AS mean_after,
           ROUND(stat, 6) AS stat
    FROM st
    QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY stat DESC, day ASC) = 1
    """,
)
def changepoint_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-shift change-point per event_type on the daily value mean
    (extensions.changepoint_detect): CUSUM-at-maximum two-sample
    contrast over exact integer prefix moments, argmax split with an
    earliest-day tie-break."""
    from tabsdata_spark.extensions import changepoint_detect

    ev = load_events(spark, sf_dir).df
    return changepoint_detect(ev, "event_type", "ts", "value")


@q(
    "disorder_events",
    """
    WITH b AS (
      SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events),
    w AS (
      SELECT user_id, us,
             MAX(us) OVER (PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS pm
      FROM b),
    l AS (SELECT user_id,
                 CASE WHEN pm > us THEN pm - us END AS late FROM w)
    SELECT user_id, COUNT(*) AS n_events, COUNT(late) AS n_out_of_order,
           ROUND(COUNT(late) / CAST(COUNT(*) AS DOUBLE), 6)
               AS disorder_frac,
           CAST(COALESCE(MAX(late), 0) AS BIGINT) AS max_lateness_us
    FROM l GROUP BY user_id
    """,
)
def disorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-time disorder audit (extensions.disorder_report):
    arrival order = event_id; counts timestamps earlier than an already
    seen one plus the max lateness — the measurement that sizes a
    streaming watermark for the §2.9 operators."""
    from tabsdata_spark.extensions import disorder_report

    ev = load_events(spark, sf_dir).df
    return disorder_report(ev, "user_id", "event_id", "ts")


@q(
    "temperature_sample_docs",
    """
    WITH counts AS (SELECT lang, COUNT(*) AS c FROM documents
                    GROUP BY lang),
    q AS (SELECT lang,
                 SQRT(CAST(c AS DOUBLE)) / CAST(c AS DOUBLE) AS q
          FROM counts),
    mq AS (SELECT MAX(q) AS maxq FROM q),
    thr AS (SELECT lang,
                   CAST(FLOOR((q / maxq) * 1152921504606846976.0 + 0.5)
                        AS BIGINT) AS thr
            FROM q, mq)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN thr ON d.lang = thr.lang
    WHERE list_reduce(
      list_transform(regexp_extract_all(substr(md5('t|' || CAST(d.doc_id AS VARCHAR)), 1, 15), '.'),
                     c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT)),
      (a, b) -> a * 16 + b) < thr
    """,
)
def temperature_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source resampling at alpha=0.5
    (llm/corpus.py temperature_sample — the XLM-R/mT5 rebalancing
    recipe): keep probability proportional to share^(alpha-1), scaled so
    the largest stratum ratio is exactly 1; sqrt tempering is
    IEEE-correctly-rounded in every engine, so the kept row SET is
    bit-stable.  Stratified by lang (skewed 44%/13% shares — source is
    uniform in the test data and would make the sampler a no-op).
    Portable-hash mode for the oracle; production keeps xxhash64."""
    from tabsdata_spark.llm import corpus, textual

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.temperature_sample(docs, "lang", "doc_id", alpha=0.5,
                                     hash_fn=textual.portable_hash60)


@q(
    "shard_assign_docs",
    """
    WITH s AS (
      SELECT (((list_reduce(
      list_transform(regexp_extract_all(substr(md5('sh|' || CAST(doc_id AS VARCHAR)), 1, 15), '.'),
                     c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT)),
      (a, b) -> a * 16 + b) % 16) + 16) % 16) AS shard, n_chars
      FROM documents),
    per AS (SELECT shard, COUNT(*) AS n_rows, SUM(n_chars) AS w
            FROM s GROUP BY shard),
    tot AS (SELECT SUM(w) AS wt FROM per)
    SELECT CAST(shard AS INTEGER) AS shard, n_rows,
           CAST(w AS DOUBLE) AS total_weight,
           ROUND(CAST(w AS DOUBLE) / (CAST(wt AS DOUBLE) / 16.0), 6)
               AS balance_ratio
    FROM per, tot
    """,
)
def shard_assign_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 16-way training-shard assignment over documents with
    n_chars as the balance weight (scale.py shard_assign): pure-function
    membership (recomputable, never stored), per-shard rows/weight/skew
    ratio — the pre-materialization balance check."""
    from tabsdata_spark import scale
    from tabsdata_spark.llm import textual

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return scale.shard_assign(docs, "doc_id", n_shards=16,
                              weight_col="n_chars",
                              hash_fn=textual.portable_hash60)


@q(
    "clustering_coeff_emb",
    """
    WITH e AS (
      SELECT LEAST(a.vec_id, b.vec_id) AS u,
             GREATEST(a.vec_id, b.vec_id) AS v
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[]) >= 0.2),
    deg AS (
      SELECT node, COUNT(*) AS degree FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      GROUP BY node),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1 JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
    nodes AS (SELECT a AS node FROM tri UNION ALL
              SELECT b FROM tri UNION ALL
              SELECT c FROM tri),
    tcnt AS (SELECT node, COUNT(*) AS triangles FROM nodes GROUP BY node)
    SELECT d.node, CAST(d.degree AS BIGINT) AS degree,
           CAST(COALESCE(t.triangles, 0) AS BIGINT) AS triangles,
           ROUND(2.0 * CAST(COALESCE(t.triangles, 0) AS DOUBLE)
                 / (CAST(d.degree AS DOUBLE)
                    * (CAST(d.degree AS DOUBLE) - 1.0)), 6)
               AS clustering_coeff
    FROM deg d LEFT JOIN tcnt t USING (node)
    WHERE d.degree >= 2
    """,
)
def clustering_coeff_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient of the cosine>=0.2
    label-blocked similarity graph (llm/dedup.py clustering_coefficient):
    2*triangles/(d*(d-1)) separates tight duplicate cliques from loose
    bridge hubs; degree-ordered triangle orientation bounds hub fan-out."""
    from tabsdata_spark.llm import dedup as dd

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = dd.embedding_near_dup_pairs(
        emb, id_col="vec_id", block_col="label", threshold=0.2)
    return dd.clustering_coefficient(pairs)


@q(
    "ols_multi_events",
    """
    WITH b AS (
      SELECT event_type,
             CAST(EXTRACT(hour FROM ts) AS BIGINT) AS x1,
             CAST(EXTRACT(dow FROM ts) AS BIGINT) AS x2,
             CAST(FLOOR(value * 1e6 + 0.5) AS HUGEINT) AS my
      FROM events WHERE value IS NOT NULL),
    a AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(x1) AS DOUBLE) AS s1,
             CAST(SUM(x2) AS DOUBLE) AS s2,
             CAST(SUM(my) AS DOUBLE) / 1e6 AS sy,
             CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS DOUBLE) AS s11,
             CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS DOUBLE) AS s22,
             CAST(SUM(CAST(x1 AS HUGEINT) * x2) AS DOUBLE) AS s12,
             CAST(SUM(x1 * my) AS DOUBLE) / 1e6 AS s1y,
             CAST(SUM(x2 * my) AS DOUBLE) / 1e6 AS s2y,
             CAST(SUM(my * my) AS DOUBLE) / 1e12 AS syy
      FROM b GROUP BY 1),
    c AS (
      SELECT event_type, n, s1, s2, sy, CAST(n AS DOUBLE) AS nd,
             s11 - s1 * s1 / CAST(n AS DOUBLE) AS a11,
             s22 - s2 * s2 / CAST(n AS DOUBLE) AS a22,
             s12 - s1 * s2 / CAST(n AS DOUBLE) AS a12,
             s1y - s1 * sy / CAST(n AS DOUBLE) AS c1,
             s2y - s2 * sy / CAST(n AS DOUBLE) AS c2,
             syy - sy * sy / CAST(n AS DOUBLE) AS syy_c
      FROM a),
    d AS (
      SELECT event_type, n, s1, s2, sy, nd, c1, c2, a11, a12, a22, syy_c,
             a11 * a22 - a12 * a12 AS det
      FROM c),
    e AS (
      SELECT event_type, n, nd, s1, s2, sy, c1, c2, syy_c,
             CASE WHEN det <> 0.0
                  THEN (c1 * a22 - c2 * a12) / det END AS b1,
             CASE WHEN det <> 0.0
                  THEN (c2 * a11 - c1 * a12) / det END AS b2
      FROM d)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           ROUND((sy - b1 * s1 - b2 * s2) / nd, 6) AS beta0,
           ROUND(b1, 6) AS beta1,
           ROUND(b2, 6) AS beta2,
           CASE WHEN syy_c > 0.0
                THEN ROUND((b1 * c1 + b2 * c2) / syy_c, 6) END AS r_squared
    FROM e
    """,
)
def ols_multi_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-regressor OLS per event_type: value ~ hour-of-day +
    day-of-week (stats.ols_two_features) — 3x3 normal equations from
    exact decimal(38,0) integer moments in ONE partial-agg shuffle,
    Cramer's-rule betas + R^2 as identical IEEE derivations."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    b = ev.select("event_type", "value",
                  F.hour("ts").alias("x1"),
                  (F.dayofweek("ts") - 1).alias("x2"))
    return stats.ols_two_features(b, "value", "x1", "x2", ["event_type"])


@q(
    "stream_hourly_events",
    """
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
    """,
)
def stream_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE watermarked tumbling-window aggregation (streaming/bus.py
    windowed_aggregate): the events slice streams through a 1-hour
    event-time window with a 30-minute watermark under an availableNow
    trigger; update-mode micro-batch outputs are merged last-wins per
    (window, event_type), so the collected sink equals the batch GROUP
    BY — held to the hourly count + decimal-sum oracle.  The third live
    streaming operator with a driver-grade value hash."""
    import tempfile

    from tabsdata_spark.streaming import bus

    ev = (load_events(spark, sf_dir).df
          .filter(F.col("value").isNotNull())
          .select("event_id", "ts", "event_type", "value"))
    tmp = tempfile.mkdtemp(prefix="td_stream_hourly_")
    ev.coalesce(1).write.parquet(f"{tmp}/src/b1")
    schema = "event_id long, ts timestamp, event_type string, value double"
    stream = bus.stream_file_source(spark, f"{tmp}/src/*", schema)
    out = bus.windowed_aggregate(
        stream, "ts", "1 hour", "30 minutes",
        {"n": F.count(F.lit(1)),
         "total_value": F.sum(F.col("value").cast("decimal(18,2)"))
         .cast("double")},
        group_extra=["event_type"])
    acc: dict = {}
    qy = (out.writeStream.outputMode("update")
          .foreachBatch(lambda b, i: acc.update(
              {(r["window"]["start"], r["event_type"]):
               (r["n"], r["total_value"]) for r in b.collect()}))
          .option("checkpointLocation", f"{tmp}/ckpt")
          .trigger(availableNow=True).start())
    qy.awaitTermination(300)
    rows = [(k[0], k[1], v[0], v[1]) for k, v in acc.items()]
    return spark.createDataFrame(
        rows, "window_start timestamp, event_type string, n long, "
              "total_value double")


@q(
    "pca_power_emb",
    """
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    v1 AS (SELECT list_transform(range(1, 65), i -> 0.125) AS vl),
    d1 AS (
      SELECT vec_id, emb,
             list_reduce(list_transform(range(1, 65),
                                        i -> emb[i] * vl[i]),
                         (a, b) -> a + b) AS dot
      FROM base, v1),
    c1 AS (
      SELECT u.i AS idx,
             CAST(FLOOR(emb[u.i] * dot * 1e6 + 0.5) AS HUGEINT) AS m
      FROM d1, (SELECT unnest(range(1, 65)) AS i) u),
    s1 AS (
      SELECT idx, CAST(SUM(m) AS DOUBLE) / 1e6 AS s
      FROM c1 GROUP BY idx),
    n1 AS (
      SELECT SQRT(list_reduce(list_transform(list(s ORDER BY idx),
                                             x -> x * x),
                              (a, b) -> a + b)) AS nrm,
             list(s ORDER BY idx) AS sl
      FROM s1),
    v2 AS (SELECT list_transform(sl, x -> x / nrm) AS vl FROM n1),
    d2 AS (
      SELECT vec_id, emb,
             list_reduce(list_transform(range(1, 65),
                                        i -> emb[i] * vl[i]),
                         (a, b) -> a + b) AS dot
      FROM base, v2),
    c2 AS (
      SELECT u.i AS idx,
             CAST(FLOOR(emb[u.i] * dot * 1e6 + 0.5) AS HUGEINT) AS m
      FROM d2, (SELECT unnest(range(1, 65)) AS i) u),
    s2 AS (
      SELECT idx, CAST(SUM(m) AS DOUBLE) / 1e6 AS s
      FROM c2 GROUP BY idx),
    n2 AS (
      SELECT SQRT(list_reduce(list_transform(list(s ORDER BY idx),
                                             x -> x * x),
                              (a, b) -> a + b)) AS nrm,
             list(s ORDER BY idx) AS sl
      FROM s2),
    v3 AS (SELECT list_transform(sl, x -> x / nrm) AS vl FROM n2),
    d3 AS (
      SELECT vec_id, emb,
             list_reduce(list_transform(range(1, 65),
                                        i -> emb[i] * vl[i]),
                         (a, b) -> a + b) AS dot
      FROM base, v3),
    c3 AS (
      SELECT u.i AS idx,
             CAST(FLOOR(emb[u.i] * dot * 1e6 + 0.5) AS HUGEINT) AS m
      FROM d3, (SELECT unnest(range(1, 65)) AS i) u),
    s3 AS (
      SELECT idx, CAST(SUM(m) AS DOUBLE) / 1e6 AS s
      FROM c3 GROUP BY idx),
    n3 AS (
      SELECT SQRT(list_reduce(list_transform(list(s ORDER BY idx),
                                             x -> x * x),
                              (a, b) -> a + b)) AS nrm,
             list(s ORDER BY idx) AS sl
      FROM s3),
    v4 AS (SELECT list_transform(sl, x -> x / nrm) AS vl FROM n3),
    p AS (
      SELECT vec_id,
             list_reduce(list_transform(range(1, 65),
                                        i -> emb[i] * vl[i]),
                         (a, b) -> a + b) AS proj
      FROM base, v4)
    SELECT vec_id, ROUND(proj, 6) AS projection FROM p
    """,
)
def pca_power_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction by 3-round power iteration + per-vector
    projections (llm/cluster.py power_iteration_pc): broadcast-direction
    dot pass, micros-quantized decimal per-coordinate accumulation, and
    a dim-bounded driver collect per round (the kmeans model-roundtrip
    contract).  The oracle unrolls the identical three iterations in
    SQL — init 1/sqrt(64) = 0.125 exactly, left-fold dots, exact integer
    sums, same IEEE normalization — so every projection reproduces
    bit-for-bit."""
    from tabsdata_spark.llm import cluster

    emb = fan_out(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return cluster.power_iteration_pc(emb, iters=3)


@q(
    "logistic_quality_docs",
    r"""
    WITH base AS (
      SELECT doc_id, lang,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             n_chars / 1000.0 AS x1,
             len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                             t -> t <> '')) / 100.0 AS x2
      FROM documents),
    b1 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
    s1 AS (
      SELECT y, x1, x2,
             w, w * eta + (y - p) AS wz
      FROM (
        SELECT y, x1, x2, eta, p, p * (1.0 - p) AS w
        FROM (
          SELECT y, x1, x2, eta, 1.0 / (1.0 + EXP(-eta)) AS p
          FROM (SELECT y, x1, x2, b0 + b1 * x1 + b2 * x2 AS eta
                FROM base, b1)))),
    m1 AS (
      SELECT CAST(SUM(CAST(FLOOR(w * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE)
                 / 1e6 AS a11,
             CAST(SUM(CAST(FLOOR(w * x1 * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE)
                 / 1e6 AS a12,
             CAST(SUM(CAST(FLOOR(w * x2 * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE)
                 / 1e6 AS a13,
             CAST(SUM(CAST(FLOOR(w * x1 * x1 * 1e6 + 0.5) AS HUGEINT))
                  AS DOUBLE) / 1e6 AS a22,
             CAST(SUM(CAST(FLOOR(w * x1 * x2 * 1e6 + 0.5) AS HUGEINT))
                  AS DOUBLE) / 1e6 AS a23,
             CAST(SUM(CAST(FLOOR(w * x2 * x2 * 1e6 + 0.5) AS HUGEINT))
                  AS DOUBLE) / 1e6 AS a33,
             CAST(SUM(CAST(FLOOR(wz * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE)
                 / 1e6 AS r1,
             CAST(SUM(CAST(FLOOR(wz * x1 * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE)
                 / 1e6 AS r2,
             CAST(SUM(CAST(FLOOR(wz * x2 * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE)
                 / 1e6 AS r3
      FROM s1),
    j1 AS (
      SELECT a11, a12, a13, a22, a23, a33, r1, r2, r3,
             a22 * a33 - a23 * a23 AS j11,
             a13 * a23 - a12 * a33 AS j12,
             a12 * a23 - a13 * a22 AS j13,
             a11 * a33 - a13 * a13 AS j22,
             a12 * a13 - a11 * a23 AS j23,
             a11 * a22 - a12 * a12 AS j33
      FROM m1),
    d1 AS (
      SELECT *, a11 * j11 + a12 * j12 + a13 * j13 AS det FROM j1),
    b2 AS (
      SELECT (j11 * r1 + j12 * r2 + j13 * r3) / det AS b0,
             (j12 * r1 + j22 * r2 + j23 * r3) / det AS b1,
             (j13 * r1 + j23 * r2 + j33 * r3) / det AS b2
      FROM d1),
    s2 AS (
      SELECT y, x1, x2,
             w, w * eta + (y - p) AS wz
      FROM (
        SELECT y, x1, x2, eta, p, p * (1.0 - p) AS w
        FROM (
          SELECT y, x1, x2, eta, 1.0 / (1.0 + EXP(-eta)) AS p
          FROM (SELECT y, x1, x2, b0 + b1 * x1 + b2 * x2 AS eta
                FROM base, b2)))),
    m2 AS (
      SELECT CAST(SUM(CAST(FLOOR(w * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE)
                 / 1e6 AS a11,
             CAST(SUM(CAST(FLOOR(w * x1 * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE)
                 / 1e6 AS a12,
             CAST(SUM(CAST(FLOOR(w * x2 * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE)
                 / 1e6 AS a13,
             CAST(SUM(CAST(FLOOR(w * x1 * x1 * 1e6 + 0.5) AS HUGEINT))
                  AS DOUBLE) / 1e6 AS a22,
             CAST(SUM(CAST(FLOOR(w * x1 * x2 * 1e6 + 0.5) AS HUGEINT))
                  AS DOUBLE) / 1e6 AS a23,
             CAST(SUM(CAST(FLOOR(w * x2 * x2 * 1e6 + 0.5) AS HUGEINT))
                  AS DOUBLE) / 1e6 AS a33,
             CAST(SUM(CAST(FLOOR(wz * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE)
                 / 1e6 AS r1,
             CAST(SUM(CAST(FLOOR(wz * x1 * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE)
                 / 1e6 AS r2,
             CAST(SUM(CAST(FLOOR(wz * x2 * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE)
                 / 1e6 AS r3
      FROM s2),
    j2 AS (
      SELECT a11, a12, a13, a22, a23, a33, r1, r2, r3,
             a22 * a33 - a23 * a23 AS j11,
             a13 * a23 - a12 * a33 AS j12,
             a12 * a23 - a13 * a22 AS j13,
             a11 * a33 - a13 * a13 AS j22,
             a12 * a13 - a11 * a23 AS j23,
             a11 * a22 - a12 * a12 AS j33
      FROM m2),
    d2 AS (
      SELECT *, a11 * j11 + a12 * j12 + a13 * j13 AS det FROM j2),
    b3 AS (
      SELECT (j11 * r1 + j12 * r2 + j13 * r3) / det AS b0,
             (j12 * r1 + j22 * r2 + j23 * r3) / det AS b1,
             (j13 * r1 + j23 * r2 + j33 * r3) / det AS b2
      FROM d2),
    p AS (
      SELECT doc_id, lang,
             1.0 / (1.0 + EXP(-(b0 + b1 * x1 + b2 * x2))) AS p
      FROM base, b3)
    SELECT doc_id, lang, ROUND(p, 6) AS score FROM p
    """,
)
def logistic_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-pipeline quality classifier (stats.logistic_two_features):
    2-round IRLS logistic regression of the weak label lang=='en' on
    (n_chars/1000, token_count/100), then score every document — the
    fasttext-style train-cheap-score-everything filter.  Beta model
    round-trips the driver (nine micros-quantized decimal moment sums
    per round, 3x3 adjugate solve); the oracle unrolls the identical two
    rounds in SQL, so every fitted probability reproduces bit-for-bit."""
    from tabsdata_spark import stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.size(F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
        lambda t: t != ""))
    feat = docs.select(
        "doc_id", "lang",
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        (F.col("n_chars") / F.lit(1000.0)).alias("x1"),
        (toks / F.lit(100.0)).alias("x2"))
    scored = stats.logistic_two_features(feat, "y", "x1", "x2", iters=2)
    return scored.select("doc_id", "lang", "score")


@q(
    "stream_session_events",
    """
    WITH marked AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS mts,
             CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN 1
                  WHEN epoch(CAST(ts AS TIMESTAMP))
                       - epoch(lag(CAST(ts AS TIMESTAMP)) OVER w)
                       >= 1800.0 THEN 1
                  ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id)
    ),
    sess AS (
      SELECT user_id, mts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY mts, event_id
                  ROWS UNBOUNDED PRECEDING) AS sno
      FROM marked)
    SELECT user_id,
           CAST(MIN(mts) AS TIMESTAMP) AS session_start,
           CAST(MAX(mts) AS TIMESTAMP) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sno
    """,
)
def stream_session_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE gap-based session windows (streaming/bus.py session_windows,
    Spark's streaming session_window state merge): events stream through
    a 30-minute-gap session aggregation with a 30-minute watermark under
    availableNow; complete-mode output (the only mode Spark supports for
    streaming session aggregations) delivers the full merged session
    state each batch — the last batch's snapshot matches the batch
    lag/cumsum sessionization oracle exactly.  The fourth live streaming
    operator under a driver-grade value hash."""
    import tempfile

    from tabsdata_spark.streaming import bus

    ev = (load_events(spark, sf_dir).df
          .select("event_id", "ts", "user_id"))
    tmp = tempfile.mkdtemp(prefix="td_stream_sess_")
    ev.coalesce(1).write.parquet(f"{tmp}/src/b1")
    schema = "event_id long, ts timestamp, user_id long"
    stream = bus.stream_file_source(spark, f"{tmp}/src/*", schema)
    out = bus.session_windows(stream, "ts", "30 minutes", "30 minutes",
                              ["user_id"], {"n_events": F.count(F.lit(1))})
    acc: list = []

    def take_snapshot(b, _):
        rows = [(r["user_id"], r["session_window"]["start"],
                 r["session_window"]["end"], r["n_events"])
                for r in b.collect()]
        acc.clear()            # complete mode: each batch is the FULL state
        acc.extend(rows)

    qy = (out.writeStream.outputMode("complete")
          .foreachBatch(take_snapshot)
          .option("checkpointLocation", f"{tmp}/ckpt")
          .trigger(availableNow=True).start())
    qy.awaitTermination(300)
    return spark.createDataFrame(
        acc, "user_id long, session_start timestamp, "
             "session_end timestamp, n_events long")


@q(
    "k_anonymity_events",
    """
    WITH classes AS (
      SELECT user_id % 100 AS age_band, event_type,
             EXTRACT(hour FROM ts) AS hour_band, COUNT(*) AS n
      FROM events GROUP BY 1, 2, 3)
    SELECT n AS class_size,
           COUNT(*) AS n_classes,
           n * COUNT(*) AS rows_covered,
           n < 5 AS violates_k
    FROM classes GROUP BY n
    """,
)
def k_anonymity_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (llm/textual.py k_anonymity_report) over the
    quasi-identifiers (user-id band, event_type, hour): the anonymity
    histogram — class sizes, class counts, rows covered, k=5 violations —
    the privacy gate next to pii_redact.  Bounded output (sizes, not
    classes) so the report cannot leak a small class's identifiers."""
    from tabsdata_spark.llm import textual

    ev = load_events(spark, sf_dir).df.select(
        (F.col("user_id") % 100).alias("age_band"),
        "event_type",
        F.hour("ts").cast("bigint").alias("hour_band"))
    return textual.k_anonymity_report(ev, ["age_band", "event_type",
                                           "hour_band"], k=5)


@q(
    "lang_confusion_docs",
    r"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         t -> t <> '') AS t
      FROM documents),
    scored AS (
      SELECT lang,
             len(list_filter(t, x -> x IN ('der','die','und','das','nicht')))
                 AS s_de,
             len(list_filter(t, x -> x IN ('the','and','of','is','that')))
                 AS s_en,
             len(list_filter(t, x -> x IN ('el','la','los','que','de')))
                 AS s_es,
             len(list_filter(t, x -> x IN ('le','les','des','est','une')))
                 AS s_fr,
             len(list_filter(t, x -> x IN ('de','shi','le','bu','wo')))
                 AS s_zh
      FROM toks),
    f1 AS (SELECT lang, s_en, s_es, s_fr, s_zh,
                  s_de AS bs, 'de' AS bl FROM scored),
    f2 AS (SELECT lang, s_es, s_fr, s_zh,
                  CASE WHEN s_en > bs THEN s_en ELSE bs END AS bs,
                  CASE WHEN s_en > bs THEN 'en' ELSE bl END AS bl FROM f1),
    f3 AS (SELECT lang, s_fr, s_zh,
                  CASE WHEN s_es > bs THEN s_es ELSE bs END AS bs,
                  CASE WHEN s_es > bs THEN 'es' ELSE bl END AS bl FROM f2),
    f4 AS (SELECT lang, s_zh,
                  CASE WHEN s_fr > bs THEN s_fr ELSE bs END AS bs,
                  CASE WHEN s_fr > bs THEN 'fr' ELSE bl END AS bl FROM f3),
    f5 AS (SELECT lang,
                  CASE WHEN s_zh > bs THEN s_zh ELSE bs END AS bs,
                  CASE WHEN s_zh > bs THEN 'zh' ELSE bl END AS bl FROM f4)
    SELECT lang AS truth_lang,
           CASE WHEN bs > 0 THEN bl ELSE 'und' END AS pred_lang,
           COUNT(*) AS n
    FROM f5 GROUP BY 1, 2
    """,
)
def lang_confusion_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the marker-argmax language_id
    (llm/textual.py) evaluated against the lang label — the
    classifier-evaluation primitive for any in-pipeline filter model.
    The oracle unrolls language_id's exact fold (lex-sorted languages,
    strict-greater argmax so the FIRST language wins ties, score 0 ->
    'und'), so prediction parity is held cell-by-cell, not just in
    aggregate.  One narrow scoring pass + one cells-sized agg."""
    from tabsdata_spark.llm import textual

    docs = fan_out(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    pred = docs.select(F.col("lang").alias("truth_lang"),
                       textual.language_id(F.col("text"))
                       .alias("pred_lang"))
    return pred.groupBy("truth_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n"))


@q(
    "acf_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c,
             SUM(CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT)) AS s
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    b AS (
      SELECT event_type, day,
             (CAST(s AS DOUBLE) / 1e6) / CAST(c AS DOUBLE) AS x,
             (CAST(SUM(s) OVER w AS DOUBLE) / 1e6)
                 / CAST(SUM(c) OVER w AS DOUBLE) AS mean,
             COUNT(*) OVER w AS nd
      FROM daily
      WINDOW w AS (PARTITION BY event_type
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND UNBOUNDED FOLLOWING)),
    l AS (
      SELECT event_type, x, mean, nd,
             lag(x, 1) OVER wo AS l1, lag(x, 2) OVER wo AS l2,
             lag(x, 3) OVER wo AS l3, lag(x, 4) OVER wo AS l4,
             lag(x, 5) OVER wo AS l5, lag(x, 6) OVER wo AS l6,
             lag(x, 7) OVER wo AS l7
      FROM b WINDOW wo AS (PARTITION BY event_type ORDER BY day)),
    p AS (
      SELECT event_type, nd, x, mean, kk.k AS lag,
             CAST(FLOOR((x - mean) * (x - mean) * 1e9 + 0.5) AS HUGEINT)
                 AS d2,
             CASE kk.k WHEN 1 THEN l1 WHEN 2 THEN l2 WHEN 3 THEN l3
                  WHEN 4 THEN l4 WHEN 5 THEN l5 WHEN 6 THEN l6
                  ELSE l7 END AS lx
      FROM l, (SELECT unnest(range(1, 8)) AS k) kk),
    q2 AS (
      SELECT event_type, lag, nd, d2,
             CASE WHEN lx IS NULL THEN NULL
                  ELSE CAST(FLOOR((lx - mean) * (x - mean) * 1e9 + 0.5)
                            AS HUGEINT) END AS num
      FROM p),
    a AS (
      SELECT event_type, lag,
             CAST(SUM(d2) AS DOUBLE) AS den,
             CAST(SUM(num) AS DOUBLE) AS num,
             COUNT(num) AS n_pairs, MAX(nd) AS nd
      FROM q2 GROUP BY 1, 2)
    SELECT event_type, CAST(lag AS INTEGER) AS lag,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CASE WHEN den > 0.0 THEN ROUND(num / den, 6) END AS acf
    FROM a WHERE lag < nd
    """,
)
def acf_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of the daily value mean per event_type
    (extensions.autocorrelation): the seasonality/memory diagnostic —
    weekly cycles peak at lag 7, level shifts decay slowly, noise hugs
    zero.  Deviation products nanos-quantized and decimal-summed, so
    acf is partial-agg-order independent."""
    from tabsdata_spark.extensions import autocorrelation

    ev = load_events(spark, sf_dir).df
    return autocorrelation(ev, "event_type", "ts", "value", max_lag=7)


@q(
    "profile_orders",
    """
    SELECT 'o_orderkey' AS column, 'bigint' AS dtype,
           COUNT(*) - COUNT(o_orderkey) AS n_nulls,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           CAST(MIN(o_orderkey) AS DOUBLE) AS min_num,
           CAST(MAX(o_orderkey) AS DOUBLE) AS max_num
    FROM orders
    UNION ALL
    SELECT 'o_custkey', 'bigint',
           COUNT(*) - COUNT(o_custkey), COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', 'string',
           COUNT(*) - COUNT(o_orderstatus), COUNT(DISTINCT o_orderstatus),
           NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', 'double',
           COUNT(*) - COUNT(o_totalprice), COUNT(DISTINCT o_totalprice),
           MIN(o_totalprice), MAX(o_totalprice)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', 'timestamp',
           COUNT(*) - COUNT(o_orderdate), COUNT(DISTINCT o_orderdate),
           NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', 'string',
           COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority), NULL, NULL
    FROM orders
    """,
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profiling report (scale.profile_table): per column —
    null count, exact distinct count, numeric min/max — the
    data-quality/reconnaissance staple a user runs before wiring a new
    source.  ONE aggregation job (all columns' aggregates in a single
    partial-agg pass, count_distinct expanded by Spark's aggregate
    planner), then a dim-sized unpivot; the table is scanned once."""
    from tabsdata_spark import scale

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return scale.profile_table(orders)


@q(
    "record_linkage_customers",
    """
    WITH b AS (
      SELECT c_custkey AS idb, c_nationkey, c_mktsegment,
             CASE WHEN c_custkey % 5 = 0 THEN c_name || '_x'
                  ELSE c_name END AS name_b,
             ROUND(c_acctbal + (CAST(c_custkey % 7 AS DOUBLE) - 3.0), 2)
                 AS bal_b
      FROM customer),
    j AS (
      SELECT a.c_custkey AS a_id, b.idb AS b_id,
             0.0 + CASE WHEN a.c_name = b.name_b
                        THEN 6.5 ELSE -3.0 END
                 + CASE WHEN ABS(a.c_acctbal - b.bal_b) <= 5.0
                        THEN 2.5 ELSE -1.5 END AS score
      FROM customer a JOIN b
        ON a.c_nationkey = b.c_nationkey
       AND a.c_mktsegment = b.c_mktsegment)
    SELECT a_id, b_id, ROUND(score, 6) AS score
    FROM j
    WHERE score >= 4.0
    QUALIFY ROW_NUMBER() OVER (PARTITION BY a_id
            ORDER BY score DESC, b_id ASC) = 1
    """,
)
def record_linkage_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution (scale.record_linkage): customers linked against
    a deterministic dirty twin (20%% perturbed names, shifted balances)
    blocked on (nation, segment) — Fellegi-Sunter-style weighted field
    agreement, score-thresholded, best candidate per left row.  Pair
    count is the sum of block-size products, never all-pairs."""
    from tabsdata_spark import scale

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    dirty = cust.select(
        F.col("c_custkey").alias("id_b"), "c_nationkey", "c_mktsegment",
        F.when(F.col("c_custkey") % 5 == 0,
               F.concat(F.col("c_name"), F.lit("_x")))
        .otherwise(F.col("c_name")).alias("c_name"),
        F.round(F.col("c_acctbal")
                + ((F.col("c_custkey") % 7).cast("double") - 3.0), 2)
        .alias("c_acctbal"))
    return scale.record_linkage(
        cust, dirty, "c_custkey", "id_b",
        ["c_nationkey", "c_mktsegment"],
        [("c_name", 6.5, -3.0), ("c_acctbal", 2.5, -1.5, 5.0)],
        threshold=4.0)


@q(
    "scd2_customers",
    """
    WITH hist AS (
      SELECT c_custkey, c_mktsegment, c_acctbal,
             TIMESTAMP '2024-01-01' AS valid_from,
             CAST(NULL AS TIMESTAMP) AS valid_to
      FROM customer),
    upd AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 3 = 0 THEN 'AUTOMOBILE'
                  ELSE c_mktsegment END AS c_mktsegment,
             ROUND(c_acctbal + CAST(c_custkey % 2 AS DOUBLE), 2)
                 AS c_acctbal,
             TIMESTAMP '2024-06-01' AS ts
      FROM customer WHERE c_custkey % 2 = 0),
    j AS (
      SELECT h.c_custkey, h.c_mktsegment, h.c_acctbal, h.valid_from,
             u.c_mktsegment AS um, u.c_acctbal AS ub, u.ts
      FROM hist h LEFT JOIN upd u ON h.c_custkey = u.c_custkey),
    kept AS (
      SELECT c_custkey, c_mktsegment, c_acctbal, valid_from,
             CASE WHEN ts IS NOT NULL
                       AND (c_mktsegment IS DISTINCT FROM um
                            OR c_acctbal IS DISTINCT FROM ub)
                  THEN ts END AS valid_to
      FROM j),
    reopened AS (
      SELECT c_custkey, um AS c_mktsegment, ub AS c_acctbal,
             ts AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to
      FROM j
      WHERE ts IS NOT NULL AND (c_mktsegment IS DISTINCT FROM um
                                OR c_acctbal IS DISTINCT FROM ub))
    SELECT * FROM kept
    UNION ALL
    SELECT * FROM reopened
    """,
)
def scd2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension merge (store/diff.py scd2_apply): a customer
    update batch (half the keys; a third of those change segment, half
    shift balance) closes out changed current rows at the update
    timestamp and opens new versions — the warehouse-history sibling of
    the store's version diff.  One key-equi-join shuffle; closed history
    and unchanged rows pass through without windows."""
    from tabsdata_spark.store.diff import scd2_apply

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    hist = cust.select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"))
    upd = (cust.filter(F.col("c_custkey") % 2 == 0)
           .select("c_custkey",
                   F.when(F.col("c_custkey") % 3 == 0, "AUTOMOBILE")
                   .otherwise(F.col("c_mktsegment")).alias("c_mktsegment"),
                   F.round(F.col("c_acctbal")
                           + (F.col("c_custkey") % 2).cast("double"), 2)
                   .alias("c_acctbal"),
                   F.lit("2024-06-01 00:00:00").cast("timestamp")
                   .alias("ts")))
    return scd2_apply(hist, upd, ["c_custkey"],
                      ["c_mktsegment", "c_acctbal"], "ts")


@q(
    "stream_drift_events",
    """
    WITH e AS (
      SELECT CAST(ts AS TIMESTAMP) AS mts, value
      FROM events WHERE value IS NOT NULL),
    w AS (
      SELECT CAST(to_timestamp(CAST(FLOOR(epoch(mts) / 86400) AS BIGINT)
                               * 86400) AS TIMESTAMP) AS window_start,
             LEAST(GREATEST(CAST(FLOOR((value - 0.0) / ((500.0 - 0.0) / 6))
                                 AS INTEGER), 0), 5) AS bucket
      FROM e),
    c AS (SELECT window_start, bucket, COUNT(*) AS n FROM w GROUP BY 1, 2),
    p AS (
      SELECT window_start, SUM(n) AS total,
             SUM(CASE WHEN bucket = 0 THEN n ELSE 0 END) AS n0,
             SUM(CASE WHEN bucket = 1 THEN n ELSE 0 END) AS n1,
             SUM(CASE WHEN bucket = 2 THEN n ELSE 0 END) AS n2,
             SUM(CASE WHEN bucket = 3 THEN n ELSE 0 END) AS n3,
             SUM(CASE WHEN bucket = 4 THEN n ELSE 0 END) AS n4,
             SUM(CASE WHEN bucket = 5 THEN n ELSE 0 END) AS n5
      FROM c GROUP BY 1)
    SELECT window_start,
           window_start + INTERVAL 1 DAY AS window_end,
           CAST(total AS BIGINT) AS n_events,
           ROUND(((((((0.0 + (((CAST(n0 AS DOUBLE) + 0.5) / (CAST(total AS DOUBLE) + 3.0)) - (1.0/6.0)) * ln(((CAST(n0 AS DOUBLE) + 0.5) / (CAST(total AS DOUBLE) + 3.0)) / (1.0/6.0))) + (((CAST(n1 AS DOUBLE) + 0.5) / (CAST(total AS DOUBLE) + 3.0)) - (1.0/6.0)) * ln(((CAST(n1 AS DOUBLE) + 0.5) / (CAST(total AS DOUBLE) + 3.0)) / (1.0/6.0))) + (((CAST(n2 AS DOUBLE) + 0.5) / (CAST(total AS DOUBLE) + 3.0)) - (1.0/6.0)) * ln(((CAST(n2 AS DOUBLE) + 0.5) / (CAST(total AS DOUBLE) + 3.0)) / (1.0/6.0))) + (((CAST(n3 AS DOUBLE) + 0.5) / (CAST(total AS DOUBLE) + 3.0)) - (1.0/6.0)) * ln(((CAST(n3 AS DOUBLE) + 0.5) / (CAST(total AS DOUBLE) + 3.0)) / (1.0/6.0))) + (((CAST(n4 AS DOUBLE) + 0.5) / (CAST(total AS DOUBLE) + 3.0)) - (1.0/6.0)) * ln(((CAST(n4 AS DOUBLE) + 0.5) / (CAST(total AS DOUBLE) + 3.0)) / (1.0/6.0))) + (((CAST(n5 AS DOUBLE) + 0.5) / (CAST(total AS DOUBLE) + 3.0)) - (1.0/6.0)) * ln(((CAST(n5 AS DOUBLE) + 0.5) / (CAST(total AS DOUBLE) + 3.0)) / (1.0/6.0))), 6) AS psi
    FROM p
    """,
)
def stream_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE chained-stateful-operator drift monitoring (streaming/bus.py
    stream_drift_monitor): per-day PSI of the value histogram against a
    uniform baseline, computed as TWO chained event-time aggregations
    (bucket counts per window, then per-window assembly) — Spark's
    multiple-stateful-operator support exercised live.  Append mode
    emits each window exactly once when the watermark closes it; a
    far-future sentinel row in a second micro-batch (maxFilesPerTrigger
    =1 orders the files) flushes every real window.  Fifth live
    streaming operator under a driver-grade value hash."""
    import datetime as dt
    import tempfile

    from tabsdata_spark.streaming import bus

    ev = (load_events(spark, sf_dir).df
          .filter(F.col("value").isNotNull())
          .select("ts", "value").orderBy("ts"))
    tmp = tempfile.mkdtemp(prefix="td_stream_drift_")
    ev.coalesce(1).write.parquet(f"{tmp}/src/b1")
    mx = ev.agg(F.max("ts")).first()[0]
    sentinel = spark.createDataFrame(
        [(mx + dt.timedelta(days=2), 1.0)], "ts timestamp, value double")
    sentinel.coalesce(1).write.parquet(f"{tmp}/src/b2")
    stream = bus.stream_file_source(spark, f"{tmp}/src/*",
                                    "ts timestamp, value double",
                                    max_files_per_trigger=1)
    out = bus.stream_drift_monitor(stream, "ts", "value",
                                   [1.0 / 6.0] * 6, 0.0, 500.0,
                                   window="1 day", watermark="1 hour")
    rows: list = []
    qy = (out.writeStream.outputMode("append")
          .foreachBatch(lambda b, i: rows.extend(b.collect()))
          .option("checkpointLocation", f"{tmp}/ckpt")
          .trigger(availableNow=True).start())
    qy.awaitTermination(300)
    real = [(r["window_start"], r["window_end"], r["n_events"], r["psi"])
            for r in rows if r["window_start"] <= mx]
    return spark.createDataFrame(
        real, "window_start timestamp, window_end timestamp, "
              "n_events long, psi double")


@q(
    "incremental_rollup_orders",
    """
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total
    FROM orders WHERE o_orderkey % 7 <> 3
    GROUP BY o_orderpriority
    """,
)
def incremental_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (store/diff.py incremental_rollup):
    the v1 revenue rollup (orders with key%10 != 0) is maintained to v2
    (orders with key%7 != 3) by applying ONLY the delta — added rows
    (key%10 == 0 and surviving) with weight +1, removed rows (key%7 == 3)
    with weight -1 — in one signed-union partial-agg shuffle, never
    rescanning the base.  DECIMAL sums make the maintained aggregate
    BIT-IDENTICAL to a full recompute, which is exactly what the oracle
    is: the full v2 rollup."""
    from tabsdata_spark.store.diff import base_rollup, incremental_rollup

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    v1 = orders.filter(F.col("o_orderkey") % 10 != 0)
    old_agg = base_rollup(v1, ["o_orderpriority"], "o_totalprice")
    added = orders.filter((F.col("o_orderkey") % 10 == 0)
                          & (F.col("o_orderkey") % 7 != 3))
    removed = v1.filter(F.col("o_orderkey") % 7 == 3)
    out = incremental_rollup(old_agg, added, removed,
                             ["o_orderpriority"], "o_totalprice")
    return out.select("o_orderpriority", "n",
                      F.col("total_dec").cast("double").alias("total"))


@q(
    "seasonal_anomalies_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c,
             SUM(CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT)) AS s
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    d2 AS (
      SELECT event_type, day, c, s, EXTRACT(dow FROM day) AS dw,
             (CAST(s AS DOUBLE) / 1e6) / CAST(c AS DOUBLE) AS x
      FROM daily),
    d3 AS (
      SELECT event_type, day, c, x,
             x - (CAST(SUM(s) OVER wd AS DOUBLE) / 1e6)
                 / CAST(SUM(c) OVER wd AS DOUBLE) AS resid
      FROM d2 WINDOW wd AS (PARTITION BY event_type, dw)),
    d4 AS (
      SELECT event_type, day, c, x, resid,
             CAST(FLOOR(resid * 1e6 + 0.5) AS HUGEINT) AS rm
      FROM d3),
    d5 AS (
      SELECT event_type, day, c, x, resid,
             CAST(COUNT(*) OVER wk AS DOUBLE) AS n,
             CAST(SUM(rm) OVER wk AS DOUBLE) AS s1,
             CAST(SUM(rm * rm) OVER wk AS DOUBLE) AS s2
      FROM d4 WINDOW wk AS (PARTITION BY event_type)),
    d6 AS (
      SELECT event_type, day, c, x, resid, n, s1,
             CASE WHEN n > 1.0
                  THEN ((s2 - s1 * s1 / n) / (n - 1)) / 1e12 END AS var
      FROM d5),
    d7 AS (
      SELECT event_type, day, c, x, resid,
             (resid - (s1 / 1e6) / n)
                 / (CASE WHEN var > 0.0 THEN SQRT(var) END) AS z
      FROM d6)
    SELECT event_type, day,
           c AS n_events,
           ROUND(x, 6) AS day_mean,
           ROUND(resid, 6) AS residual,
           ROUND(z, 6) AS zscore
    FROM d7
    WHERE z IS NOT NULL AND ABS(z) > 1.5
    """,
)
def seasonal_anomalies_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week-adjusted daily anomalies per event_type
    (extensions.seasonal_adjusted_anomalies, STL-lite): residuals vs the
    key's DOW profile, z-scored over exact re-quantized integer moments —
    the decomposition ladder between rolling_zscore and a full STL fit."""
    from tabsdata_spark.extensions import seasonal_adjusted_anomalies

    ev = load_events(spark, sf_dir).df
    return seasonal_adjusted_anomalies(ev, "event_type", "ts", "value",
                                       threshold=1.5)


@q(
    "stream_interval_join_events",
    """
    SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
    FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'view') v
    JOIN (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'click') c
      ON v.user_id = c.user_id
     AND c.ts >= v.ts
     AND c.ts <= v.ts + INTERVAL 30 MINUTE
    """,
)
def stream_interval_join_events(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """LIVE stream-stream interval join (streaming/bus.py
    stream_interval_join): the view stream joins the click stream on
    user within [view_ts, view_ts + 30min] — the ad-tech attribution
    shape, with watermark-bounded state on BOTH sides.  Inner joins emit
    matches immediately (no watermark wait), so an availableNow pass
    over both sources collects the complete pair set; the oracle is the
    plain batch interval join.  Sixth live streaming operator under a
    driver-grade value hash."""
    import tempfile

    from tabsdata_spark.streaming import bus

    ev = load_events(spark, sf_dir).df
    views = (ev.filter(F.col("event_type") == "view")
             .select("user_id", F.col("event_id").alias("view_id"),
                     F.col("ts").alias("view_ts")))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("user_id", F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts")))
    tmp = tempfile.mkdtemp(prefix="td_stream_ij_")
    views.coalesce(1).write.parquet(f"{tmp}/v/b1")
    clicks.coalesce(1).write.parquet(f"{tmp}/c/b1")
    vs = bus.stream_file_source(
        spark, f"{tmp}/v/*", "user_id long, view_id long, view_ts timestamp")
    cs = bus.stream_file_source(
        spark, f"{tmp}/c/*", "user_id long, click_id long, click_ts timestamp")
    out = bus.stream_interval_join(
        vs, cs, on="user_id", left_ts="view_ts", right_ts="click_ts",
        left_watermark="1 hour", right_watermark="1 hour",
        within="30 MINUTES")
    rows: list = []
    qy = (out.writeStream.outputMode("append")
          .foreachBatch(lambda b, i: rows.extend(
              (r["user_id"], r["view_id"], r["click_id"])
              for r in b.select("user_id", "view_id", "click_id")
              .collect()))
          .option("checkpointLocation", f"{tmp}/ckpt")
          .trigger(availableNow=True).start())
    qy.awaitTermination(300)
    return spark.createDataFrame(
        rows, "user_id long, view_id long, click_id long")


@q(
    "stream_ingest_dedup_docs",
    r"""
    WITH fp AS (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
                 AS fingerprint
      FROM documents),
    corpus AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id < 250),
    batch AS (SELECT fingerprint FROM fp WHERE doc_id >= 250)
    SELECT DISTINCT fingerprint
    FROM batch
    WHERE fingerprint NOT IN (SELECT fingerprint FROM corpus)
    """,
)
def stream_ingest_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE continuous-ingestion exact dedup (streaming/bus.py
    stream_ingest_dedup): the new batch streams through the
    stream-static digest anti-join (static side re-read per micro-batch,
    stream side never buffers) plus watermark-bounded
    dropDuplicatesWithinWatermark.  Output surfaces the DISTINCT
    fingerprint set of surviving documents — within-batch duplicate
    digests keep an arbitrary survivor row (stream arrival order), so
    the digest set is the deterministic contract, and it equals the
    batch distinct-anti-join oracle exactly.  Seventh live streaming
    operator."""
    import tempfile

    from tabsdata_spark.streaming import bus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 250)
    batch = docs.filter(F.col("doc_id") >= 250).select(
        "doc_id", "text",
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias("ts"))
    tmp = tempfile.mkdtemp(prefix="td_stream_ingest_")
    batch.coalesce(1).write.parquet(f"{tmp}/src/b1")
    stream = bus.stream_file_source(
        spark, f"{tmp}/src/*", "doc_id long, text string, ts timestamp")
    out = bus.stream_ingest_dedup(stream, corpus, "text", "ts")
    rows: list = []
    qy = (out.writeStream.outputMode("append")
          .foreachBatch(lambda b, i: rows.extend(
              r["t"] for r in b.select(
                  F.md5(F.lower(F.trim(F.regexp_replace(
                      F.col("text"), r"\s+", " ")))).alias("t")).collect()))
          .option("checkpointLocation", f"{tmp}/ckpt")
          .trigger(availableNow=True).start())
    qy.awaitTermination(300)
    return spark.createDataFrame(
        [(t,) for t in sorted(set(rows))], "fingerprint string")


@q(
    "stream_sliding_events",
    """
    WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS mts, value FROM events),
    slid AS (
      SELECT date_trunc('hour', mts) AS window_start, value FROM e
      UNION ALL
      SELECT date_trunc('hour', mts) - INTERVAL 1 HOUR AS window_start,
             value
      FROM e)
    SELECT window_start,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM slid GROUP BY window_start
    """,
)
def stream_sliding_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE sliding-window aggregation (streaming/bus.py
    windowed_aggregate with slide): 2-hour windows sliding every hour —
    each event expands into TWO open windows, state = open windows x
    keys.  availableNow + update mode with last-wins merge per window
    start; equals the batch expand-then-aggregate oracle.  Eighth live
    streaming operator."""
    import tempfile

    from tabsdata_spark.streaming import bus

    ev = (load_events(spark, sf_dir).df
          .select("event_id", "ts", "value"))
    tmp = tempfile.mkdtemp(prefix="td_stream_slide_")
    ev.coalesce(1).write.parquet(f"{tmp}/src/b1")
    stream = bus.stream_file_source(
        spark, f"{tmp}/src/*", "event_id long, ts timestamp, value double")
    out = bus.windowed_aggregate(
        stream, "ts", "2 hours", "30 minutes",
        {"n": F.count(F.lit(1)),
         "total": F.sum(F.col("value").cast("decimal(18,4)"))
         .cast("double")},
        slide="1 hour")
    acc: dict = {}
    qy = (out.writeStream.outputMode("update")
          .foreachBatch(lambda b, i: acc.update(
              {r["window"]["start"]: (r["n"], r["total"])
               for r in b.collect()}))
          .option("checkpointLocation", f"{tmp}/ckpt")
          .trigger(availableNow=True).start())
    qy.awaitTermination(300)
    rows = [(k, v[0], v[1]) for k, v in acc.items()]
    return spark.createDataFrame(
        rows, "window_start timestamp, n long, total double")


@q(
    "k_anonymize_events",
    """
    WITH b AS (
      SELECT user_id, event_type, EXTRACT(hour FROM ts) AS h FROM events),
    l0 AS (SELECT 0 AS level, CAST(user_id % 100 AS VARCHAR) AS q1,
                  CAST(event_type AS VARCHAR) AS q2,
                  CAST(h AS VARCHAR) AS q3, COUNT(*) AS n
           FROM b GROUP BY 2, 3, 4),
    l1 AS (SELECT 1 AS level, CAST(user_id % 100 AS VARCHAR) AS q1,
                  CAST(event_type AS VARCHAR) AS q2,
                  CAST(CAST(FLOOR(h / 6) AS BIGINT) * 6 AS VARCHAR) AS q3,
                  COUNT(*) AS n
           FROM b GROUP BY 2, 3, 4),
    l2 AS (SELECT 2 AS level, CAST(user_id % 20 AS VARCHAR) AS q1,
                  CAST(event_type AS VARCHAR) AS q2,
                  CAST(CAST(FLOOR(h / 6) AS BIGINT) * 6 AS VARCHAR) AS q3,
                  COUNT(*) AS n
           FROM b GROUP BY 2, 3, 4),
    l3 AS (SELECT 3 AS level, '*' AS q1,
                  CAST(event_type AS VARCHAR) AS q2,
                  CAST(CAST(FLOOR(h / 6) AS BIGINT) * 6 AS VARCHAR) AS q3,
                  COUNT(*) AS n
           FROM b GROUP BY 2, 3, 4),
    allv AS (SELECT * FROM l0 UNION ALL SELECT * FROM l1
             UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3),
    mins AS (SELECT level, MIN(n) AS minn FROM allv GROUP BY level),
    pick AS (SELECT COALESCE(MIN(CASE WHEN minn >= 5 THEN level END), 3)
                    AS lvl FROM mins)
    SELECT CAST(level AS INTEGER) AS level, q1, q2, q3,
           CAST(n AS BIGINT) AS n
    FROM allv, pick WHERE level = lvl
    """,
)
def k_anonymize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalization-ladder k-anonymization (llm/textual.py
    k_anonymize): publish the first rung of (user band x type x hour) ->
    coarser bands -> suppression where every equivalence class reaches
    k=5 — the Samarati minimal-generalization walk, driver-decided one
    rung at a time (1-number collect per rung)."""
    from tabsdata_spark.llm import textual

    ev = load_events(spark, sf_dir).df
    h = F.hour("ts")
    h6 = (F.floor(h / 6).cast("bigint") * 6)
    ladder = [
        [F.col("user_id") % 100, F.col("event_type"), h],
        [F.col("user_id") % 100, F.col("event_type"), h6],
        [F.col("user_id") % 20, F.col("event_type"), h6],
        [F.lit("*"), F.col("event_type"), h6],
    ]
    return textual.k_anonymize(ev, ladder, ["q1", "q2", "q3"], k=5)


# ===========================================================================
# coverage batch (round 5): persisted-index ingest, streaming k-anonymity,
# graph/survival/EWMA/concurrency analytics, chi2 feature selection,
# cross-source duplication, int8 quantization, stratified splits, PII
# density, label centroids, conversion latency
# ===========================================================================
@q(
    "incremental_near_dup_indexed_docs",
    r"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3
                  THEN list_transform(range(1, len(toks) - 1),
                       i -> array_to_string(toks[i:i+2], ' '))
                  ELSE [array_to_string(toks, ' ')] END) AS shingles
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS toks
            FROM documents)),
    sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
    inter AS (
      SELECT n.doc_id AS doc_id, c.doc_id AS match_id, COUNT(*) AS shared
      FROM ex n JOIN ex c ON n.g = c.g
      WHERE n.doc_id >= 250 AND c.doc_id < 250
      GROUP BY 1, 2),
    j AS (
      SELECT inter.doc_id, match_id,
             ROUND(shared / CAST(sa.n + sb.n - shared AS DOUBLE), 6) AS jaccard
      FROM inter
      JOIN sz sa ON sa.doc_id = inter.doc_id
      JOIN sz sb ON sb.doc_id = inter.match_id
      WHERE shared / CAST(sa.n + sb.n - shared AS DOUBLE) >= 0.5)
    SELECT doc_id, match_id, jaccard
    FROM j
    QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY jaccard DESC, match_id ASC) = 1
    """,
)
def incremental_near_dup_indexed_docs(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Incremental NEAR dedup against a PERSISTED LSH band index
    (llm/dedup.py corpus_band_index + incremental_near_dup_indexed): the
    corpus's band buckets are built ONCE and stored; the new batch
    (doc_id >= 250) computes only its own signatures and joins the
    stored index — the corpus is never re-tokenized per ingest, the
    100 TB continuous-ingest shape.  Same exact inverted-index jaccard
    oracle as incremental_near_dup_docs, so index-path recall at this
    (32-hash, 8-band) setting is pinned to exactness."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = docs.filter(F.col("doc_id") >= 250)
    corpus = docs.filter(F.col("doc_id") < 250)
    index = dedup.corpus_band_index(corpus)
    return dedup.incremental_near_dup_indexed(batch, corpus, index,
                                              threshold=0.5)


@q(
    "stream_k_anonymize_events",
    """
    WITH b AS (
      SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS w,
             user_id, event_type, EXTRACT(hour FROM ts) AS h
      FROM events),
    l0 AS (SELECT w, 0 AS level, CAST(user_id % 100 AS VARCHAR) AS q1,
                  CAST(event_type AS VARCHAR) AS q2,
                  CAST(h AS VARCHAR) AS q3, COUNT(*) AS n
           FROM b GROUP BY 1, 3, 4, 5),
    l1 AS (SELECT w, 1 AS level, CAST(user_id % 100 AS VARCHAR) AS q1,
                  CAST(event_type AS VARCHAR) AS q2,
                  CAST(CAST(FLOOR(h / 6) AS BIGINT) * 6 AS VARCHAR) AS q3,
                  COUNT(*) AS n
           FROM b GROUP BY 1, 3, 4, 5),
    l2 AS (SELECT w, 2 AS level, CAST(user_id % 20 AS VARCHAR) AS q1,
                  CAST(event_type AS VARCHAR) AS q2,
                  CAST(CAST(FLOOR(h / 6) AS BIGINT) * 6 AS VARCHAR) AS q3,
                  COUNT(*) AS n
           FROM b GROUP BY 1, 3, 4, 5),
    l3 AS (SELECT w, 3 AS level, '*' AS q1,
                  CAST(event_type AS VARCHAR) AS q2,
                  CAST(CAST(FLOOR(h / 6) AS BIGINT) * 6 AS VARCHAR) AS q3,
                  COUNT(*) AS n
           FROM b GROUP BY 1, 3, 4, 5),
    allv AS (SELECT * FROM l0 UNION ALL SELECT * FROM l1
             UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3),
    mins AS (SELECT w, level, MIN(n) AS minn FROM allv GROUP BY 1, 2),
    pick AS (SELECT w, COALESCE(MIN(CASE WHEN minn >= 5 THEN level END), 3)
                       AS lvl
             FROM mins GROUP BY w)
    SELECT CAST(allv.w AS TIMESTAMP) AS window_start,
           CAST(allv.level AS INTEGER) AS level, q1, q2, q3,
           CAST(n AS BIGINT) AS n
    FROM allv JOIN pick ON allv.w = pick.w AND allv.level = pick.lvl
    """,
)
def stream_k_anonymize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE streaming k-anonymization (streaming/bus.py
    stream_k_anonymize): every event fans into one row per ladder rung,
    ONE watermarked daily-window aggregation counts every rung's
    equivalence classes at once, and the Samarati pick (first rung whose
    smallest class reaches k=5, else suppression) runs per window on the
    collected snapshot (bus.pick_k_anonymous_level) — the streaming twin
    of k_anonymize_events, ninth live streaming operator under a
    driver-grade value hash."""
    import tempfile

    from tabsdata_spark.streaming import bus

    ev = (load_events(spark, sf_dir).df
          .select("event_id", "ts", "user_id", "event_type"))
    tmp = tempfile.mkdtemp(prefix="td_stream_kanon_")
    ev.coalesce(1).write.parquet(f"{tmp}/src/b1")
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    stream = bus.stream_file_source(spark, f"{tmp}/src/*", schema)
    h = F.hour("ts")
    h6 = (F.floor(h / 6).cast("bigint") * 6)
    ladder = [
        [F.col("user_id") % 100, F.col("event_type"), h],
        [F.col("user_id") % 100, F.col("event_type"), h6],
        [F.col("user_id") % 20, F.col("event_type"), h6],
        [F.lit("*"), F.col("event_type"), h6],
    ]
    out = bus.stream_k_anonymize(stream, "ts", "1 day", "30 minutes",
                                 ladder, ["q1", "q2", "q3"])
    acc: dict = {}
    qy = (out.writeStream.outputMode("update")
          .foreachBatch(lambda b, i: acc.update(
              {(r["window"]["start"], r["level"], r["q1"], r["q2"], r["q3"]):
               r["n"] for r in b.collect()}))
          .option("checkpointLocation", f"{tmp}/ckpt")
          .trigger(availableNow=True).start())
    qy.awaitTermination(300)
    rows = [(k[0], k[1], k[2], k[3], k[4], v) for k, v in acc.items()]
    snap = spark.createDataFrame(
        rows, "window_start timestamp, level int, q1 string, q2 string, "
              "q3 string, n long")
    return bus.pick_k_anonymous_level(snap, ["q1", "q2", "q3"], k=5)


@q(
    "pagerank_orders",
    """
    WITH e0 AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS u,
                      's' || CAST(l_suppkey AS VARCHAR) AS v
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    und AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
    deg AS (SELECT u, COUNT(*) AS deg FROM und GROUP BY u),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    p0 AS (SELECT u AS node, deg,
                  CAST(1.0 AS DOUBLE) / n AS pr FROM deg, nn),
    s1 AS (SELECT und.v AS node,
                  SUM(CAST(FLOOR(p.pr / p.deg * 1e12 + 0.5) AS HUGEINT)) AS s
           FROM und JOIN p0 p ON und.u = p.node GROUP BY 1),
    p1 AS (SELECT d.u AS node, d.deg,
                  (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                  + CAST(0.85 AS DOUBLE) * (CAST(s.s AS DOUBLE) / 1e12) AS pr
           FROM deg d JOIN s1 s ON d.u = s.node, nn),
    s2 AS (SELECT und.v AS node,
                  SUM(CAST(FLOOR(p.pr / p.deg * 1e12 + 0.5) AS HUGEINT)) AS s
           FROM und JOIN p1 p ON und.u = p.node GROUP BY 1),
    p2 AS (SELECT d.u AS node, d.deg,
                  (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                  + CAST(0.85 AS DOUBLE) * (CAST(s.s AS DOUBLE) / 1e12) AS pr
           FROM deg d JOIN s2 s ON d.u = s.node, nn),
    s3 AS (SELECT und.v AS node,
                  SUM(CAST(FLOOR(p.pr / p.deg * 1e12 + 0.5) AS HUGEINT)) AS s
           FROM und JOIN p2 p ON und.u = p.node GROUP BY 1),
    p3 AS (SELECT d.u AS node, d.deg,
                  (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                  + CAST(0.85 AS DOUBLE) * (CAST(s.s AS DOUBLE) / 1e12) AS pr
           FROM deg d JOIN s3 s ON d.u = s.node, nn)
    SELECT node, ROUND(pr, 6) AS pagerank FROM p3
    """,
)
def pagerank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality (graph.pagerank_exact) over the
    customer-supplier trade graph (distinct (o_custkey, l_suppkey) pairs
    from orders x lineitem, node ids prefixed 'c'/'s'): 3 unrolled
    damped power iterations with picos-quantized decimal contribution
    sums — one edge join + one partial-agg shuffle per iteration, N the
    only driver collect.  The oracle unrolls the identical 3 iterations
    in SQL, so every rank reproduces bit-for-bit."""
    from tabsdata_spark import graph

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    edges = _cust_supp_edges(o, li, "src", "dst")
    pr = graph.pagerank_exact(edges, "src", "dst", iters=3, damping=0.85)
    return _unmap_graph_nodes(pr)


@q(
    "ewma_events",
    """
    WITH b AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS mts, value
      FROM events WHERE value IS NOT NULL),
    l AS (
      SELECT event_id, user_id, value,
             lag(value, 1) OVER w AS v1, lag(value, 2) OVER w AS v2,
             lag(value, 3) OVER w AS v3, lag(value, 4) OVER w AS v4,
             lag(value, 5) OVER w AS v5, lag(value, 6) OVER w AS v6,
             lag(value, 7) OVER w AS v7
      FROM b
      WINDOW w AS (PARTITION BY user_id ORDER BY mts, event_id))
    SELECT event_id, user_id,
           ROUND((CAST(0.0 AS DOUBLE)
                  + COALESCE(value * CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE))
                  + COALESCE(v1 * CAST(0.5 AS DOUBLE), CAST(0.0 AS DOUBLE))
                  + COALESCE(v2 * CAST(0.25 AS DOUBLE), CAST(0.0 AS DOUBLE))
                  + COALESCE(v3 * CAST(0.125 AS DOUBLE), CAST(0.0 AS DOUBLE))
                  + COALESCE(v4 * CAST(0.0625 AS DOUBLE), CAST(0.0 AS DOUBLE))
                  + COALESCE(v5 * CAST(0.03125 AS DOUBLE), CAST(0.0 AS DOUBLE))
                  + COALESCE(v6 * CAST(0.015625 AS DOUBLE), CAST(0.0 AS DOUBLE))
                  + COALESCE(v7 * CAST(0.0078125 AS DOUBLE), CAST(0.0 AS DOUBLE)))
                 /
                 (CAST(0.0 AS DOUBLE)
                  + CASE WHEN value IS NOT NULL THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                  + CASE WHEN v1 IS NOT NULL THEN CAST(0.5 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                  + CASE WHEN v2 IS NOT NULL THEN CAST(0.25 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                  + CASE WHEN v3 IS NOT NULL THEN CAST(0.125 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                  + CASE WHEN v4 IS NOT NULL THEN CAST(0.0625 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                  + CASE WHEN v5 IS NOT NULL THEN CAST(0.03125 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                  + CASE WHEN v6 IS NOT NULL THEN CAST(0.015625 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                  + CASE WHEN v7 IS NOT NULL THEN CAST(0.0078125 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END),
                 6) AS ewma
    FROM l
    """,
)
def ewma_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (extensions.ewma, pandas ewm(adjust=True) semantics
    truncated to 8 trailing observations, alpha=0.5): every weight is an
    exact power of two and both fold sums run in fixed lag order, so the
    statistic is a fixed-structure IEEE expression — bit-identical to
    the unrolled-lag oracle.  One shuffle on user_id, all lags in one
    whole-stage-codegen projection."""
    from tabsdata_spark import extensions

    ev = (load_events(spark, sf_dir).df
          .filter(F.col("value").isNotNull())
          .select("event_id", "ts", "user_id", "value"))
    out = extensions.ewma(ev, "user_id", ["ts", "event_id"], "value",
                          alpha=0.5, terms=8)
    return out.select("event_id", "user_id", "ewma")


@q(
    "kaplan_meier_orders",
    """
    WITH fs AS (
      SELECT l_orderkey, MIN(l_shipdate) AS ship
      FROM lineitem GROUP BY 1),
    base AS (
      SELECT o_orderpriority AS grp,
             (epoch_us(CAST(ship AS TIMESTAMP))
              - epoch_us(CAST(o_orderdate AS TIMESTAMP))) // 86400000000
             AS days
      FROM orders JOIN fs ON o_orderkey = l_orderkey),
    obs AS (
      SELECT grp, LEAST(days, 60) AS t,
             CASE WHEN days <= 60 THEN 1 ELSE 0 END AS ev
      FROM base WHERE days >= 0),
    pts AS (
      SELECT grp, t, SUM(ev) AS d, SUM(1 - ev) AS c
      FROM obs GROUP BY 1, 2),
    wn AS (
      SELECT grp, t, d, c,
             SUM(d + c) OVER (PARTITION BY grp)
             - SUM(d + c) OVER (PARTITION BY grp ORDER BY t
                                ROWS UNBOUNDED PRECEDING)
             + d + c AS n_risk
      FROM pts),
    sv AS (
      SELECT grp, t, n_risk, d,
             SUM(CASE WHEN d > 0 AND d < n_risk
                      THEN CAST(FLOOR(LN((n_risk - d)
                                         / CAST(n_risk AS DOUBLE))
                                      * 1e9 + 0.5) AS BIGINT)
                      ELSE 0 END)
               OVER (PARTITION BY grp ORDER BY t
                     ROWS UNBOUNDED PRECEDING) AS s,
             MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
               OVER (PARTITION BY grp ORDER BY t
                     ROWS UNBOUNDED PRECEDING) AS extinct
      FROM wn)
    SELECT grp AS o_orderpriority, CAST(t AS BIGINT) AS t,
           CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS n_events,
           CASE WHEN extinct = 1 THEN CAST(0.0 AS DOUBLE)
                ELSE ROUND(EXP(CAST(s AS DOUBLE) / 1e9), 6) END AS survival
    FROM sv WHERE d > 0
    """,
)
def kaplan_meier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier fulfillment-time survival per order priority
    (stats.kaplan_meier): duration = whole days from order date to first
    shipment, administratively right-censored at 60 days.  n_at_risk /
    n_events are exact integer window sums and the product-limit runs as
    exp of an exactly-summed 1e9-quantized log series, so every survival
    value reproduces bit-for-bit against the SQL unroll."""
    from tabsdata_spark import stats

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    fs = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("ship"))
    # orders/lineitem timestamps read as TIMESTAMP_NTZ on vanilla Spark 4
    # sessions; session TZ is UTC in both harnesses, so the cast is identity
    days = F.expr("(unix_micros(cast(ship as timestamp))"
                  " - unix_micros(cast(o_orderdate as timestamp)))"
                  " div 86400000000")
    base = (o.join(fs, o["o_orderkey"] == fs["l_orderkey"])
            .filter(days >= 0)          # synthetic data has negative gaps
            .select(F.col("o_orderpriority"),
                    F.least(days, F.lit(60)).alias("t"),
                    (days <= 60).alias("ev")))
    return stats.kaplan_meier(base, ["o_orderpriority"], "t", "ev")


@q(
    "concurrency_events",
    """
    WITH iv AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS s,
             CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS e
      FROM events),
    pts AS (
      SELECT date_trunc('day', s) AS day, s AS t, 1 AS delta, event_id
      FROM iv
      UNION ALL
      SELECT date_trunc('day', e - INTERVAL 1 MICROSECOND) AS day,
             e AS t, -1 AS delta, event_id
      FROM iv),
    run AS (
      SELECT day, delta,
             SUM(delta) OVER (PARTITION BY day
                              ORDER BY t, delta, event_id
                              ROWS UNBOUNDED PRECEDING) AS r
      FROM pts),
    peak AS (
      SELECT day, MAX(r) AS p,
             SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS n_started
      FROM run GROUP BY day),
    xb AS (
      SELECT date_trunc('day', e) AS day, COUNT(*) AS b
      FROM iv
      WHERE date_trunc('day', s) < date_trunc('day', e)
        AND e > date_trunc('day', e)
      GROUP BY 1)
    SELECT CAST(peak.day AS TIMESTAMP) AS day,
           CAST(GREATEST(p, 0) + COALESCE(b, 0) AS BIGINT) AS max_concurrent,
           CAST(n_started AS BIGINT) AS n_started
    FROM peak LEFT JOIN xb ON peak.day = xb.day
    """,
)
def concurrency_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent 30-minute sessions per day
    (extensions.max_concurrency): sweep-line +1/-1 points, partitioned
    BY DAY (legal because the interval length is bounded, so each
    interval crosses at most one midnight; carried-over intervals enter
    as an exactly-counted per-day baseline) — no global sort at any
    scale.  Integer output, hash-compared."""
    from tabsdata_spark import extensions

    ev = load_events(spark, sf_dir).df.select("event_id", "ts")
    return extensions.max_concurrency(ev, "ts", "30 minutes",
                                      id_col="event_id")


@q(
    "chi2_token_lang_docs",
    f"""
    WITH {_TOKS_CTE},
    pres AS (SELECT DISTINCT doc_id, term FROM toks),
    lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents),
    pt AS (SELECT term, SUM(y) AS a, SUM(1 - y) AS b
           FROM pres JOIN lab USING (doc_id) GROUP BY term),
    tot AS (SELECT SUM(y) AS pos, SUM(1 - y) AS neg FROM lab),
    sc AS (
      SELECT term, a + b AS n_docs,
             CASE WHEN (a + b) * (pos - a + neg - b) * pos * neg > 0
                  THEN ROUND(CAST((pos + neg)
                                  * (a * (neg - b) - b * (pos - a))
                                  * (a * (neg - b) - b * (pos - a))
                                  AS DOUBLE)
                             / CAST((a + b) * (pos - a + neg - b)
                                    * pos * neg AS DOUBLE), 6)
                  ELSE CAST(0.0 AS DOUBLE) END AS chi2
      FROM pt, tot
      WHERE a + b >= 5)
    SELECT term, CAST(n_docs AS BIGINT) AS n_docs, chi2
    FROM sc ORDER BY chi2 DESC, term ASC LIMIT 30
    """,
)
def chi2_token_lang_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared token/label feature selection (llm/corpus.py
    chi2_feature_selection): the 30 tokens whose document presence most
    discriminates lang='en' — the classic feature ranker for training a
    cheap quality/language classifier.  Every statistic input is an
    exact integer presence count and the score is one fixed-structure
    IEEE division, so the ranking reproduces bit-for-bit."""
    from tabsdata_spark.llm import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.chi2_feature_selection(
        docs, F.col("lang") == "en", min_df=5, k=30)


@q(
    "cross_source_dup_matrix_docs",
    r"""
    WITH fp AS (
      SELECT DISTINCT source AS src,
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      FROM documents),
    sizes AS (SELECT src, COUNT(*) AS n_fp FROM fp GROUP BY src),
    hits AS (
      SELECT x.src AS source_a, y.src AS source_b, COUNT(*) AS shared
      FROM fp x JOIN fp y ON x.fp = y.fp AND x.src < y.src
      GROUP BY 1, 2)
    SELECT na.src AS source_a, nb.src AS source_b,
           CAST(COALESCE(shared, 0) AS BIGINT) AS shared,
           ROUND(CAST(COALESCE(shared, 0) AS DOUBLE)
                 / CAST(na.n_fp + nb.n_fp - COALESCE(shared, 0)
                        AS DOUBLE), 6) AS jaccard
    FROM sizes na
    JOIN sizes nb ON na.src < nb.src
    LEFT JOIN hits ON hits.source_a = na.src AND hits.source_b = nb.src
    """,
)
def cross_source_dup_matrix_docs(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix (llm/dedup.py
    cross_source_dup_matrix): shared normalized-content fingerprints and
    fingerprint-set Jaccard for every source pair — the mirror-site /
    syndicated-feed detector.  Fingerprint-keyed equi-join (pair count
    bounded by the duplicated slice), |sources|^2 output."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.cross_source_dup_matrix(docs)


@q(
    "int8_quantize_emb",
    """
    WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
    m AS (SELECT vec_id, x,
                 list_max(list_transform(x, v -> abs(v))) AS amax
          FROM b),
    s AS (SELECT vec_id, x, amax,
                 amax / CAST(127.0 AS DOUBLE) AS scale,
                 CASE WHEN amax > 0 THEN amax / CAST(127.0 AS DOUBLE)
                      ELSE CAST(1.0 AS DOUBLE) END AS sdiv
          FROM m),
    qq AS (SELECT vec_id, x, amax, scale,
                  list_transform(x, v ->
                    LEAST(GREATEST(FLOOR(v / sdiv + 0.5),
                                   CAST(-127.0 AS DOUBLE)),
                          CAST(127.0 AS DOUBLE))) AS q
           FROM s),
    e AS (SELECT vec_id, amax, scale,
                 list_reduce(list_transform(range(1, len(x) + 1),
                     i -> (x[i] - q[i] * scale) * (x[i] - q[i] * scale)),
                   (p, r) -> p + r) AS sse,
                 list_max(list_transform(range(1, len(x) + 1),
                     i -> abs(x[i] - q[i] * scale))) AS mae,
                 len(x) AS dim
          FROM qq)
    SELECT vec_id,
           ROUND(CASE WHEN amax > 0 THEN scale
                      ELSE CAST(0.0 AS DOUBLE) END, 6) AS scale,
           ROUND(CASE WHEN amax > 0 THEN sse / dim
                      ELSE CAST(0.0 AS DOUBLE) END, 6) AS mse,
           ROUND(CASE WHEN amax > 0 THEN mae
                      ELSE CAST(0.0 AS DOUBLE) END, 6) AS max_abs_err
    FROM e
    """,
)
def int8_quantize_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization report (llm/similarity.py
    int8_quantize_stats): per-vector scale + reconstruction MSE / max
    abs error — the measurement before shrinking a vector index 4x.
    Pure per-row expressions (no shuffle); the quantize-reconstruct
    chain folds in index order, so every statistic is bit-exact against
    the list_transform oracle."""
    from tabsdata_spark.llm import similarity

    emb = fan_out(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return similarity.int8_quantize_stats(emb)


@q(
    "label_centroid_cosine_emb",
    """
    WITH b AS (SELECT label, embedding::DOUBLE[] AS x FROM embeddings),
    c1 AS (SELECT label, u.i AS idx,
                  CAST(FLOOR(x[u.i] * 1e6 + 0.5) AS HUGEINT) AS m
           FROM b, (SELECT unnest(range(1, 65)) AS i) u),
    s1 AS (SELECT label, idx,
                  CAST(SUM(m) AS DOUBLE) / 1e6 AS sv,
                  COUNT(*) AS n
           FROM c1 GROUP BY 1, 2),
    cent AS (SELECT label, list(sv / n ORDER BY idx) AS cv
             FROM s1 GROUP BY label),
    p AS (SELECT a.label AS label_a, b2.label AS label_b,
                 a.cv AS va, b2.cv AS vb
          FROM cent a JOIN cent b2 ON a.label < b2.label)
    SELECT label_a, label_b,
           ROUND(list_reduce(list_transform(range(1, 65),
                                            i -> va[i] * vb[i]),
                             (p, q) -> p + q)
                 / (SQRT(list_reduce(list_transform(range(1, 65),
                                                    i -> va[i] * va[i]),
                                     (p, q) -> p + q))
                    * SQRT(list_reduce(list_transform(range(1, 65),
                                                      i -> vb[i] * vb[i]),
                                       (p, q) -> p + q))), 6) AS cosine
    FROM p
    """,
)
def label_centroid_cosine_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-label centroid cosine matrix (llm/cluster.py
    label_centroid_cosine): which classes this embedding separates and
    which it conflates.  Centroids from micros-quantized decimal sums
    (one fixed-width posexplode shuffle), then the bounded |labels|^2
    grid with fixed-order cosine folds — bit-exact vs the SQL unroll."""
    from tabsdata_spark.llm import cluster

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cluster.label_centroid_cosine(emb)


@q(
    "pii_density_docs",
    r"""
    WITH r AS (
      SELECT source, text,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '[PII]', 'g'),
                 '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[PII]', 'g'),
               '\+?\d[\d\s().-]{7,}\d', '[PII]', 'g') AS red
      FROM documents)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN text <> red THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_pii,
           ROUND(CAST(SUM(CASE WHEN text <> red THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS pii_rate,
           CAST(SUM(len(text) - len(red)) AS BIGINT) AS chars_delta
    FROM r GROUP BY source
    """,
)
def pii_density_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII density (llm/textual.py pii_density): share of
    documents containing any PII pattern and total characters removed by
    redaction — ranks sources by privacy risk before release.  Same
    chained-regex table as pii_redact; one count shuffle."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textual.pii_density(docs)


@q(
    "stratified_split_docs",
    """
    WITH s AS (
      SELECT lang,
             CASE
               WHEN CAST(('0x' || substring(md5(lang || ':'
                          || CAST(doc_id AS VARCHAR)), 1, 6))
                    AS BIGINT) % 100 < 5 THEN 'test'
               WHEN CAST(('0x' || substring(md5(lang || ':'
                          || CAST(doc_id AS VARCHAR)), 1, 6))
                    AS BIGINT) % 100 < 10 THEN 'val'
               ELSE 'train'
             END AS split
      FROM documents),
    c AS (SELECT lang AS stratum, split, COUNT(*) AS n FROM s GROUP BY 1, 2)
    SELECT stratum, split, CAST(n AS BIGINT) AS n,
           ROUND(CAST(n AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY stratum), 6) AS share
    FROM c
    """,
)
def stratified_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic split balance report (llm/textual.py
    stratified_split_report): per-language train/val/test assignment
    hashed INDEPENDENTLY per stratum (md5 of stratum:key), with
    within-stratum shares — the representativeness check next to
    hash_split_docs' global split."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textual.stratified_split_report(docs, "lang", "doc_id")


@q(
    "time_to_convert_events",
    """
    WITH b AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS mts, event_type
      FROM events),
    f AS (SELECT user_id, MIN(mts) AS first_from_ts
          FROM b WHERE event_type = 'signup' GROUP BY 1),
    t AS (SELECT b.user_id, f.first_from_ts, MIN(b.mts) AS convert_ts
          FROM b JOIN f ON b.user_id = f.user_id
          WHERE b.event_type = 'purchase' AND b.mts >= f.first_from_ts
          GROUP BY 1, 2)
    SELECT user_id, first_from_ts, convert_ts,
           ROUND((epoch_us(convert_ts) - epoch_us(first_from_ts))
                 / CAST(1000000.0 AS DOUBLE), 6) AS latency_seconds
    FROM t
    """,
)
def time_to_convert_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user signup->purchase conversion latency
    (extensions.time_to_convert): first signup, next purchase at or
    after it, exact-microsecond latency — min-aggregations inside one
    user-keyed shuffle, no window over the event stream."""
    from tabsdata_spark import extensions

    ev = load_events(spark, sf_dir).df.select("user_id", "ts", "event_type")
    return extensions.time_to_convert(ev, "user_id", "ts", "event_type",
                                      "signup", "purchase")


@q(
    "stream_topk_events",
    """
    WITH h AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2)
    SELECT window_start, event_type, n,
           CAST(row_number() OVER (PARTITION BY window_start
                ORDER BY n DESC, event_type ASC) AS INTEGER) AS rank
    FROM h
    QUALIFY rank <= 3
    """,
)
def stream_topk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE streaming trending-items pattern (streaming/bus.py): the
    stream maintains only a watermarked hourly count per event_type; the
    per-window top-3 ranking runs on the collected snapshot
    (bus.pick_topk_per_window) — ranks belong in the sink, not the
    stateful plan.  Tenth live streaming operator, held to the batch
    hourly-top-3 oracle."""
    import tempfile

    from tabsdata_spark.streaming import bus

    ev = (load_events(spark, sf_dir).df
          .select("event_id", "ts", "event_type"))
    tmp = tempfile.mkdtemp(prefix="td_stream_topk_")
    ev.coalesce(1).write.parquet(f"{tmp}/src/b1")
    schema = "event_id long, ts timestamp, event_type string"
    stream = bus.stream_file_source(spark, f"{tmp}/src/*", schema)
    out = bus.windowed_aggregate(
        stream, "ts", "1 hour", "30 minutes",
        {"n": F.count(F.lit(1))}, group_extra=["event_type"])
    acc: dict = {}
    qy = (out.writeStream.outputMode("update")
          .foreachBatch(lambda b, i: acc.update(
              {(r["window"]["start"], r["event_type"]): r["n"]
               for r in b.collect()}))
          .option("checkpointLocation", f"{tmp}/ckpt")
          .trigger(availableNow=True).start())
    qy.awaitTermination(300)
    snap = spark.createDataFrame(
        [(k[0], k[1], v) for k, v in acc.items()],
        "window_start timestamp, event_type string, n long")
    return bus.pick_topk_per_window(snap, ["event_type"], "n", k=3)


@q(
    "quantile_normalize_events",
    """
    WITH b AS (
      SELECT event_id, event_type, value,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS vq
      FROM events WHERE value IS NOT NULL),
    grid AS (
      SELECT quantile_cont(vq, list_transform(range(0, 101),
                                              i -> i / 100.0)) AS g
      FROM b),
    ranked AS (
      SELECT event_id, event_type, value,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS r
      FROM b),
    pk AS (
      SELECT event_id, event_type, value,
             CASE WHEN n > 1
                  THEN CAST(r - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END * 100.0 AS pos
      FROM ranked),
    kk AS (
      SELECT event_id, event_type, value, pos,
             LEAST(CAST(FLOOR(pos) AS INTEGER), 99) AS k
      FROM pk)
    SELECT event_id, event_type, value,
           ROUND((g[k + 1] * (CAST(1.0 AS DOUBLE) - (pos - CAST(k AS DOUBLE)))
                  + g[k + 2] * (pos - CAST(k AS DOUBLE))) / 1e6, 6)
               AS value_norm
    FROM kk, grid
    """,
)
def quantile_normalize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of event values across event types
    (extensions.quantile_normalize): each value maps to the GLOBAL
    distribution at its within-type quantile, removing per-source
    calibration differences.  The global reference is a 101-knot exact
    quantile grid over micros-quantized integers (one aggregation +
    broadcast — no global sort, no per-row reference join), making the
    whole transform a fixed-structure IEEE expression — bit-exact vs the
    SQL replay."""
    from tabsdata_spark import extensions

    ev = load_events(spark, sf_dir).df
    out = extensions.quantile_normalize(ev, "event_type", "value",
                                        "event_id", knots=100)
    return out.select("event_id", "event_type", "value", "value_norm")


@q(
    "pii_pattern_counts_docs",
    r"""
    WITH m AS (
      SELECT source,
             CASE WHEN regexp_matches(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
               THEN 1 ELSE 0 END AS email,
             CASE WHEN regexp_matches(text,
               '\b(?:\d{1,3}\.){3}\d{1,3}\b') THEN 1 ELSE 0 END AS ipv4,
             CASE WHEN regexp_matches(text,
               '\+?\d[\d\s().-]{7,}\d') THEN 1 ELSE 0 END AS phone
      FROM documents),
    w AS (
      SELECT source, COUNT(*) AS n,
             SUM(email) AS email, SUM(ipv4) AS ipv4, SUM(phone) AS phone
      FROM m GROUP BY source)
    SELECT source, p.pattern,
           CAST(CASE p.pattern WHEN 'email' THEN email
                               WHEN 'ipv4' THEN ipv4
                               ELSE phone END AS BIGINT) AS n_docs,
           ROUND(CAST(CASE p.pattern WHEN 'email' THEN email
                                     WHEN 'ipv4' THEN ipv4
                                     ELSE phone END AS DOUBLE) / n, 6)
               AS rate
    FROM w, (SELECT unnest(['email', 'ipv4', 'phone']) AS pattern) p
    """,
)
def pii_pattern_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source, per-pattern PII breakdown (llm/textual.py
    pii_pattern_counts): which identifier class each source leaks —
    the itemized companion to pii_density_docs.  One scan, one count
    shuffle, long-form output."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textual.pii_pattern_counts(docs)


@q(
    "embedding_norm_stats_emb",
    """
    WITH b AS (
      SELECT label,
             CAST(FLOOR(SQRT(list_reduce(
                    list_transform(embedding::DOUBLE[], v -> v * v),
                    (p, q) -> p + q)) * 1e6 + 0.5) AS BIGINT) AS nq
      FROM embeddings),
    s AS (
      SELECT label, COUNT(*) AS n,
             CAST(SUM(CAST(nq AS HUGEINT)) AS DOUBLE) AS sq,
             quantile_cont(nq, 0.5) AS p50q,
             quantile_cont(nq, 0.99) AS p99q
      FROM b GROUP BY label),
    o AS (
      SELECT b.label, COUNT(*) AS n_out
      FROM b JOIN s ON b.label = s.label
      WHERE CAST(b.nq AS DOUBLE) > 1.5 * s.p50q
      GROUP BY b.label)
    SELECT s.label, CAST(s.n AS BIGINT) AS n,
           ROUND(sq / 1e6 / n, 6) AS mean_norm,
           ROUND(p50q / 1e6, 6) AS p50_norm,
           ROUND(p99q / 1e6, 6) AS p99_norm,
           CAST(COALESCE(n_out, 0) AS BIGINT) AS n_outliers
    FROM s LEFT JOIN o ON s.label = o.label
    """,
)
def embedding_norm_stats_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-norm health report (llm/similarity.py
    embedding_norm_stats): n, exact mean/p50/p99 of the L2 norm over
    micros-quantized integers, and outliers above 1.5x the median —
    catches unnormalized batches and mis-scaled encoders before
    indexing.  Bit-exact vs the SQL replay."""
    from tabsdata_spark.llm import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.embedding_norm_stats(emb)


@q(
    "distinctive_terms_sources",
    f"""
    WITH {_TOKS_CTE},
    src AS (SELECT doc_id, source FROM documents),
    tt AS (SELECT src.source AS grp, term FROM toks JOIN src USING (doc_id)),
    ygw AS (SELECT grp, term, COUNT(*) AS ygw FROM tt GROUP BY 1, 2),
    yw AS (SELECT term, SUM(ygw) AS yw FROM ygw GROUP BY term),
    ng AS (SELECT grp, SUM(ygw) AS ng FROM ygw GROUP BY grp),
    scal AS (SELECT COUNT(DISTINCT term) AS v, SUM(ygw) AS nn FROM ygw),
    sc AS (
      SELECT ygw.grp, ygw.term, ygw.ygw,
             (LN((CAST(ygw AS DOUBLE) + 0.01)
                 / (CAST(ng AS DOUBLE) + 0.01 * CAST(v AS DOUBLE)
                    - CAST(ygw AS DOUBLE) - 0.01))
              - LN(((CAST(yw AS DOUBLE) - CAST(ygw AS DOUBLE)) + 0.01)
                   / (CAST(nn AS DOUBLE) - CAST(ng AS DOUBLE)
                      + 0.01 * CAST(v AS DOUBLE)
                      - (CAST(yw AS DOUBLE) - CAST(ygw AS DOUBLE)) - 0.01)))
             / SQRT(CAST(1.0 AS DOUBLE) / (CAST(ygw AS DOUBLE) + 0.01)
                    + CAST(1.0 AS DOUBLE)
                      / ((CAST(yw AS DOUBLE) - CAST(ygw AS DOUBLE)) + 0.01))
                 AS z
      FROM ygw JOIN yw USING (term) JOIN ng USING (grp), scal
      WHERE ygw >= 5)
    SELECT grp AS source, term, CAST(ygw AS BIGINT) AS n_in_group,
           ROUND(z, 6) AS z_logodds,
           CAST(row_number() OVER (PARTITION BY grp
                ORDER BY ROUND(z, 6) DESC, term ASC) AS INTEGER) AS rank
    FROM sc
    QUALIFY rank <= 3
    """,
)
def distinctive_terms_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive vocabulary per source by Dirichlet-prior log-odds
    z-score (llm/corpus.py distinctive_terms, Monroe et al. "Fightin'
    Words") — surfaces per-source boilerplate/topical skew.  Exact
    integer token counts through a fixed-structure IEEE statistic; one
    (group, term) shuffle + one term shuffle, broadcast margins,
    windows over count-filtered candidates only."""
    from tabsdata_spark.llm import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.distinctive_terms(docs, min_count=5, k=3)


@q(
    "image_ahash_pairs",
    """
    WITH ids AS (
      SELECT doc_id, doc_id % 25 AS cls, doc_id % 3 AS nz
      FROM documents WHERE doc_id < 100),
    px AS (
      SELECT doc_id,
             r.r, c.c,
             CASE WHEN r.r = 0 AND c.c < nz THEN 255
                  ELSE (cls * 31 + r.r * 7 + c.c * 13) % 256 END AS v
      FROM ids,
           (SELECT unnest(range(0, 16)) AS r) r,
           (SELECT unnest(range(0, 16)) AS c) c),
    tot AS (SELECT doc_id, SUM(v) AS ts FROM px GROUP BY doc_id),
    cells AS (
      SELECT doc_id, (r // 2) * 8 + (c // 2) AS i, SUM(v) AS cs
      FROM px GROUP BY doc_id, (r // 2) * 8 + (c // 2)),
    bits AS (
      SELECT cells.doc_id, i,
             CASE WHEN cs * 64 >= ts THEN 1 ELSE 0 END AS b
      FROM cells JOIN tot ON cells.doc_id = tot.doc_id),
    h AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN i < 32 THEN b * (CAST(1 AS BIGINT) << i)
                           ELSE 0 END) AS BIGINT) AS h1,
             CAST(SUM(CASE WHEN i >= 32
                           THEN b * (CAST(1 AS BIGINT) << (i - 32))
                           ELSE 0 END) AS BIGINT) AS h2
      FROM bits GROUP BY doc_id)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.h1, b.h1))
                + bit_count(xor(a.h2, b.h2)) AS INTEGER) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2)) <= 3
    """,
)
def image_ahash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs via perceptual average hash
    (llm/multimodal.py ahash_images + image_near_dup_pairs): each doc
    gets a REAL 16x16 BMP whose pixel pattern is closed-form in doc_id
    (25 image classes + up to 2 noise pixels), encoded and DECODED
    through the spec-level BMP codec, aHashed (8x8 block means vs
    global mean), then paired by 16-bit band blocking + exact Hamming
    <= 3 — recall provably exact at this threshold by pigeonhole.  The
    oracle recomputes the hash arithmetic from the pixel formula with
    exact integer sums (cell*64 >= total), so a codec, hashing, or
    banding regression flips hard-compared rows."""
    import pandas as pd

    from tabsdata_spark.llm import multimodal

    def make_bmps(batches):
        import numpy as np

        from tabsdata_spark.llm import codecs

        for pdf in batches:
            payloads = []
            for i in pdf["doc_id"]:
                i = int(i)
                cls, nz = i % 25, i % 3
                r = np.arange(16).reshape(16, 1)
                c = np.arange(16).reshape(1, 16)
                v = ((cls * 31 + r * 7 + c * 13) % 256).astype(np.uint8)
                v[0, :nz] = 255
                px = np.repeat(v[:, :, None], 3, axis=2)
                payloads.append(codecs.encode_bmp(px))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .filter(F.col("doc_id") < 100)
    bins = docs.select("doc_id").mapInPandas(
        make_bmps, "doc_id long, payload binary")
    hashes = multimodal.ahash_images(bins)
    return multimodal.image_near_dup_pairs(hashes, max_hamming=3)


@q(
    "calibration_logistic_docs",
    None,  # oracle assembled below from the logistic oracle CTE
)
def calibration_logistic_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the IRLS quality classifier
    (stats.calibration_bins over logistic_quality_docs' scores): per
    score decile, n, exact mean prediction, observed positive rate —
    the check that the filter's scores are thresholdable as
    probabilities.  The oracle wraps the full unrolled-IRLS logistic
    oracle as a CTE and re-bins it, so classifier AND binning verify
    together bit-for-bit."""
    from tabsdata_spark import stats

    scored = logistic_quality_docs(spark, sf_dir)
    lab = scored.withColumn("__y", (F.col("lang") == "en").cast("int"))
    return stats.calibration_bins(lab, "score", "__y", bins=10)


_ORACLES["calibration_logistic_docs"] = f"""
    WITH scored AS ({_ORACLES["logistic_quality_docs"]}),
    b AS (
      SELECT LEAST(CAST(FLOOR(score * 10) AS INTEGER), 9) AS bin,
             CAST(FLOOR(score * 1e6 + 0.5) AS BIGINT) AS sq,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM scored)
    SELECT bin, COUNT(*) AS n,
           ROUND(CAST(SUM(sq) AS DOUBLE) / 1e6 / COUNT(*), 6) AS mean_score,
           ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS frac_pos
    FROM b GROUP BY bin
"""


@q(
    "strip_markup_docs",
    r"""
    WITH wrapped AS (
      SELECT doc_id, text,
             '<html><head><style>p.title: red;</style>'
             || '<script>var hidden = 1 < 2;</script></head>'
             || '<body><p class="t">' || text
             || '</p><br/>&amp; &lt;tail&gt;</body></html>' AS html
      FROM documents),
    stripped AS (
      SELECT doc_id, text,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(html,
               '(?s)<script\b[^>]*>.*?</script>', ' ', 'g'),
               '(?s)<style\b[^>]*>.*?</style>', ' ', 'g'),
               '<[^>]+>', ' ', 'g'),
               '&nbsp;', ' ', 'g'),
               '&amp;', '&', 'g'),
               '&lt;', '<', 'g'),
               '&gt;', '>', 'g'),
               '&quot;', '"', 'g'),
               '&#39;', CHR(39), 'g') AS clean
      FROM wrapped)
    SELECT doc_id,
           len(clean) AS n_chars_clean,
           contains(clean, trim(text)) AS body_survives,
           NOT contains(clean, 'hidden') AS script_gone,
           NOT contains(clean, 'title') AS style_gone,
           contains(clean, '& <tail>') AS entities_decoded,
           md5(clean) AS clean_md5
    FROM stripped
    """,
)
def strip_markup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup stripping for web-crawl text (llm/textual.py strip_markup):
    each document is wrapped in a deterministic HTML shell
    (style + script blocks, attributes, entities), then stripped through
    the chained-regex rule table — script/style content must vanish, the
    body text must survive, entities must decode.  The oracle applies
    the identical rule chain in SQL and md5-compares the full cleaned
    string, so any pattern-semantics divergence (Java regex vs RE2)
    flips hard-compared rows."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    html = F.concat(
        F.lit('<html><head><style>p.title: red;</style>'
              '<script>var hidden = 1 < 2;</script></head>'
              '<body><p class="t">'),
        F.col("text"),
        F.lit('</p><br/>&amp; &lt;tail&gt;</body></html>'))
    clean = textual.strip_markup(html)
    return docs.select(
        "doc_id",
        F.length(clean).alias("n_chars_clean"),
        clean.contains(F.trim(F.col("text"))).alias("body_survives"),
        (~clean.contains("hidden")).alias("script_gone"),
        (~clean.contains("title")).alias("style_gone"),
        clean.contains("& <tail>").alias("entities_decoded"),
        F.md5(clean).alias("clean_md5"))


@q(
    "audio_fingerprint_wav",
    """
    WITH ids AS (
      SELECT doc_id, doc_id % 20 AS cls
      FROM documents WHERE doc_id < 100),
    e AS (
      SELECT doc_id, i.i // 32 AS b,
             SUM(((cls * 7 + (i.i // 32) * (i.i // 32)) % 13)
                 * ((i.i % 32) - 16)
                 * ((cls * 7 + (i.i // 32) * (i.i // 32)) % 13)
                 * ((i.i % 32) - 16)) AS en
      FROM ids, (SELECT unnest(range(0, 1024)) AS i) i
      GROUP BY doc_id, i.i // 32),
    bits AS (
      SELECT a.doc_id, a.b AS pos,
             CASE WHEN n.en > a.en THEN 1 ELSE 0 END AS bit
      FROM e a JOIN e n ON n.doc_id = a.doc_id AND n.b = a.b + 1),
    fp AS (
      SELECT doc_id,
             CAST(SUM(bit * (CAST(1 AS BIGINT) << pos)) AS BIGINT) AS fp
      FROM bits GROUP BY doc_id)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.fp
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
    """,
)
def audio_fingerprint_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio duplicate detection via energy-delta fingerprints
    (llm/multimodal.py audio_fingerprint): each doc gets a REAL 16-bit
    PCM WAV whose samples are closed-form in doc_id (20 signal classes),
    decoded through the spec-level WAV codec, fingerprinted (32-block
    energies, one bit per adjacent increase), then exact-fp-matched into
    duplicate pairs.  The oracle recomputes the block energies from the
    sample formula with exact integer sums, so a codec or fingerprint
    regression flips hard-compared rows."""
    import pandas as pd

    from tabsdata_spark.llm import multimodal

    def make_wavs(batches):
        import io
        import wave

        import numpy as np

        for pdf in batches:
            payloads = []
            for i in pdf["doc_id"]:
                i = int(i)
                cls = i % 20
                idx = np.arange(1024, dtype=np.int64)
                amp = (cls * 7 + (idx // 32) ** 2) % 13
                v = (amp * ((idx % 32) - 16)).astype("<i2")
                buf = io.BytesIO()
                with wave.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(2)
                    wf.setframerate(16000)
                    wf.writeframes(v.tobytes())
                payloads.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .filter(F.col("doc_id") < 100)
    bins = docs.select("doc_id").mapInPandas(
        make_wavs, "doc_id long, payload binary")
    fps = multimodal.audio_fingerprint(bins, blocks=32)
    a = fps.select(F.col("doc_id").alias("id_a"), "fp")
    b = fps.select(F.col("doc_id").alias("id_b"),
                   F.col("fp").alias("__fpb"))
    return (a.join(b, (F.col("fp") == F.col("__fpb"))
                   & (F.col("id_a") < F.col("id_b")))
            .select("id_a", "id_b", "fp"))


@q(
    "activity_islands_events",
    """
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
      FROM events),
    r AS (
      SELECT user_id, d,
             d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS isl
      FROM days),
    runs AS (SELECT user_id, isl, COUNT(*) AS len FROM r GROUP BY 1, 2)
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(SUM(len) AS BIGINT) AS total_active_days
    FROM runs GROUP BY user_id
    """,
)
def activity_islands_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity streaks by gaps-and-islands
    (extensions.activity_islands): distinct active days, maximal
    consecutive-day runs via the date-minus-rank trick (no self-join, no
    recursive CTE), per-user island count / longest streak / total
    active days.  One distinct shuffle + one window sort per user
    partition; integer output, hash-compared."""
    from tabsdata_spark import extensions

    ev = load_events(spark, sf_dir).df
    return extensions.activity_islands(ev, "user_id", "ts")


@q(
    "cohort_ltv_events",
    """
    WITH first AS (
      SELECT user_id,
             date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS cw
      FROM events GROUP BY user_id),
    sizes AS (SELECT cw, COUNT(*) AS n_users FROM first GROUP BY cw),
    aged AS (
      SELECT f.cw,
             (epoch_us(date_trunc('week', CAST(e.ts AS TIMESTAMP)))
              - epoch_us(f.cw)) // 604800000000 AS age_weeks,
             CAST(e.value AS DECIMAL(18,2)) AS v
      FROM events e JOIN first f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase' AND e.value IS NOT NULL),
    grid AS (
      SELECT cw, age_weeks, SUM(v) AS rev
      FROM aged GROUP BY cw, age_weeks)
    SELECT CAST(grid.cw AS TIMESTAMP) AS cohort_week,
           CAST(age_weeks AS BIGINT) AS age_weeks,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(rev AS DOUBLE) AS revenue,
           ROUND(CAST(SUM(rev) OVER (PARTITION BY grid.cw ORDER BY age_weeks
                                     ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / n_users, 6) AS cum_ltv_per_user
    FROM grid JOIN sizes ON grid.cw = sizes.cw
    """,
)
def cohort_ltv_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-cohort lifetime-value curves (extensions.cohort_ltv):
    users cohort by first-seen week, purchase revenue accumulates per
    cohort by week-age, normalized per member.  Decimal revenue sums +
    integer week arithmetic + a cumulative window over the bounded
    (cohort, age) grid — bit-exact vs the SQL replay."""
    from tabsdata_spark import extensions

    ev = load_events(spark, sf_dir).df
    return extensions.cohort_ltv(ev, "user_id", "ts", "value",
                                 value_filter=F.col("event_type")
                                 == "purchase")


@q(
    "funnel_stepwise_events",
    """
    WITH b AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS mts, event_type
      FROM events),
    s1 AS (SELECT user_id, MIN(mts) AS t_1
           FROM b WHERE event_type = 'signup' GROUP BY 1),
    s2 AS (SELECT b.user_id, MIN(b.mts) AS t_2
           FROM b JOIN s1 USING (user_id)
           WHERE b.event_type = 'click'
             AND b.mts > t_1 AND b.mts <= t_1 + INTERVAL 24 HOUR
           GROUP BY 1),
    s3 AS (SELECT b.user_id, MIN(b.mts) AS t_3
           FROM b JOIN s2 USING (user_id)
           WHERE b.event_type = 'purchase'
             AND b.mts > t_2 AND b.mts <= t_2 + INTERVAL 24 HOUR
           GROUP BY 1)
    SELECT s1.user_id, t_1, t_2, t_3,
           CAST(CASE WHEN t_2 IS NULL THEN 1
                     WHEN t_3 IS NULL THEN 2
                     ELSE 3 END AS BIGINT) AS reached_steps
    FROM s1
    LEFT JOIN s2 ON s1.user_id = s2.user_id
    LEFT JOIN s3 ON s1.user_id = s3.user_id
    """,
)
def funnel_stepwise_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-step-windowed conversion funnel (extensions.funnel with
    step_within): signup -> click -> purchase where every step must land
    within 24 hours OF THE PREVIOUS step (engagement-decay semantics,
    greedy-earliest chain).  Same k-1 user-keyed min-join plan as the
    plain funnel; exact timestamps, hash-compared."""
    from tabsdata_spark import extensions

    ev = load_events(spark, sf_dir).df
    out = extensions.funnel(ev, "user_id", "ts", "event_type",
                            ["signup", "click", "purchase"],
                            step_within="24 hours")
    return out.select("user_id", "t_1", "t_2", "t_3",
                      F.col("reached_steps").cast("bigint")
                      .alias("reached_steps"))


@q(
    "auto_salted_revenue_events",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM events GROUP BY event_type
    """,
)
def auto_salted_revenue_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-adaptive aggregation (scale.auto_salted_agg): probe the key
    distribution (one count pass + a 1-row collect), then aggregate
    plain or two-phase salted depending on the heaviest key's share —
    the "measure, don't guess" loop as an operator.  Either path is
    value-identical to the plain GROUP BY oracle: salting only changes
    row routing, and decimal partial sums re-aggregate losslessly."""
    from tabsdata_spark import scale

    ev = load_events(spark, sf_dir).df
    return scale.auto_salted_agg(
        ev, "event_type",
        {"n_events": ("count", None),
         "revenue": ("sum_decimal", "value")},
        skew_threshold=0.15)


# ---------------------------------------------------------------------------
# round-5 continuation: experimentation + sketch + forecasting operators
# ---------------------------------------------------------------------------

def _ladder_sql(u_expr: str, thresholds: list[int], values: list[int]) -> str:
    """CASE-ladder SQL mirroring stats._ladder over the same literals."""
    arms = " ".join(
        f"WHEN {u_expr} < {t} THEN {v}"
        for t, v in zip(thresholds, values[:-1]))
    return f"CASE {arms} ELSE {values[-1]} END"


from tabsdata_spark.stats import GEOM_HALF_T, POISSON1_T  # noqa: E402


@q(
    "cuped_adjusted_events",
    """
    WITH b AS (
      SELECT user_id, user_id % 2 = 0 AS variant,
             CAST(ts AS TIMESTAMP) AS mts,
             CAST(value AS DECIMAL(18,2)) AS v
      FROM events WHERE value IS NOT NULL),
    u AS (
      SELECT user_id, variant,
             COALESCE(SUM(CASE WHEN mts < TIMESTAMP '2024-01-16'
                               THEN v END), 0) AS x,
             COALESCE(SUM(CASE WHEN mts >= TIMESTAMP '2024-01-16'
                               THEN v END), 0) AS y
      FROM b GROUP BY 1, 2),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(CAST(x AS DECIMAL(28,6)) * CAST(x AS DECIMAL(28,6))
                      AS DECIMAL(38,12))) AS DOUBLE) AS sx2,
             CAST(SUM(CAST(CAST(x AS DECIMAL(28,6)) * CAST(y AS DECIMAL(28,6))
                      AS DECIMAL(38,12))) AS DOUBLE) AS sxy
      FROM u),
    g AS (SELECT (n * sxy - sx * sy) / (n * sx2 - sx * sx) AS theta,
                 sx / n AS xbar FROM m),
    pv AS (
      SELECT variant, COUNT(*) AS n_units,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(CAST(x AS DECIMAL(28,6)) * CAST(x AS DECIMAL(28,6))
                      AS DECIMAL(38,12))) AS DOUBLE) AS sx2,
             CAST(SUM(CAST(CAST(y AS DECIMAL(28,6)) * CAST(y AS DECIMAL(28,6))
                      AS DECIMAL(38,12))) AS DOUBLE) AS sy2,
             CAST(SUM(CAST(CAST(x AS DECIMAL(28,6)) * CAST(y AS DECIMAL(28,6))
                      AS DECIMAL(38,12))) AS DOUBLE) AS sxy
      FROM u GROUP BY variant),
    d AS (
      SELECT variant, n_units, n, sx, sy, theta, xbar,
             (sy2 - sy * sy / n) / (n - 1) AS var_y,
             (sx2 - sx * sx / n) / (n - 1) AS var_x,
             (sxy - sx * sy / n) / (n - 1) AS cov
      FROM pv, g)
    SELECT variant, CAST(n_units AS BIGINT) AS n_units,
           ROUND(sy / n, 6) AS mean_y,
           ROUND(sy / n - theta * (sx / n - xbar), 6) AS mean_y_adj,
           ROUND(var_y, 6) AS var_y,
           ROUND(var_y - 2 * theta * cov + theta * theta * var_x, 6)
             AS var_y_adj,
           ROUND((var_y - (var_y - 2 * theta * cov + theta * theta * var_x))
                 / var_y * 100, 6) AS var_reduction_pct,
           ROUND(theta, 6) AS theta
    FROM d
    """,
)
def cuped_adjusted_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (stats.cuped): per-user
    pre-period (Jan 1-15) value sum as covariate, post-period sum as
    metric, even/odd user-id variants; pooled theta, adjusted means, and
    the realized variance reduction.  Exact decimal cross-moments ->
    fixed IEEE closed forms on both engines."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df.filter(F.col("value").isNotNull())
    split = F.lit("2024-01-16").cast("timestamp")
    v = F.col("value").cast("decimal(18,2)")
    zero = F.lit(0).cast("decimal(18,2)")
    units = ev.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(F.col("ts") < split, v)), zero).alias("x"),
        F.coalesce(F.sum(F.when(F.col("ts") >= split, v)), zero).alias("y"),
    ).withColumn("variant", F.col("user_id") % 2 == 0)
    return stats.cuped(units, "x", "y", "variant")


@q(
    "linear_attribution_events",
    """
    WITH conv AS (
      SELECT user_id AS u, epoch_us(CAST(ts AS TIMESTAMP)) AS pts,
             event_id AS pid,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS vm
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
    tch AS (
      SELECT user_id AS u, epoch_us(CAST(ts AS TIMESTAMP)) AS tts,
             event_id AS tid, event_type AS touch_type
      FROM events WHERE event_type IN ('click', 'view')),
    pairs AS (
      SELECT touch_type, vm, pid, tts, tid
      FROM tch JOIN conv ON tch.u = conv.u
       AND tts <= pts AND tts > pts - 604800000000),
    wp AS (
      SELECT touch_type, vm,
             COUNT(*) OVER (PARTITION BY pid) AS n,
             ROW_NUMBER() OVER (PARTITION BY pid ORDER BY tts, tid) AS rn
      FROM pairs),
    cr AS (
      SELECT touch_type, rn,
             vm // n + CASE WHEN rn = 1 THEN vm - (vm // n) * n
                            ELSE 0 END AS credit
      FROM wp),
    pt AS (
      SELECT touch_type, COUNT(*) AS n_credits,
             SUM(CAST(credit AS DECIMAL(38,0))) AS cm,
             SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS nf
      FROM cr GROUP BY 1),
    tot AS (SELECT COUNT(*) AS np,
                   SUM(CAST(vm AS DECIMAL(38,0))) AS tm FROM conv),
    cs AS (SELECT SUM(cm) AS csum, SUM(nf) AS fsum FROM pt)
    SELECT touch_type, CAST(n_credits AS BIGINT) AS n_credits,
           CAST(cm AS DOUBLE) / 1e6 AS revenue
    FROM pt
    UNION ALL
    SELECT 'direct' AS touch_type,
           CAST(np - COALESCE(fsum, 0) AS BIGINT) AS n_credits,
           CAST(tm - COALESCE(csum, 0) AS DOUBLE) / 1e6 AS revenue
    FROM tot, cs
    """,
)
def linear_attribution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch linear attribution (extensions.linear_attribution):
    each purchase splits its value equally across the user's click/view
    touches in the prior 7 days — micros-integer division with the
    remainder pinned to the earliest touch, so credits sum exactly and
    the 'direct' residual row balances to the total."""
    from tabsdata_spark import extensions

    ev = load_events(spark, sf_dir).df
    return extensions.linear_attribution(
        ev, "user_id", "ts", "event_type", "value",
        conversion_type="purchase", touch_types=["click", "view"],
        lookback="7 days")


_BOOT_HASH = _HASH60_SQL.format(
    v="CAST(event_id AS VARCHAR) || ':' || CAST(rep AS VARCHAR)")


@q(
    "poisson_bootstrap_events",
    f"""
    WITH b AS (
      SELECT event_type, event_id,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS vm
      FROM events WHERE value IS NOT NULL),
    hv AS (
      SELECT event_type, rep, vm, {_BOOT_HASH} AS u
      FROM b CROSS JOIN range(32) t(rep)),
    h AS (
      SELECT event_type, rep, vm,
             {_ladder_sql("u", POISSON1_T, list(range(8)))} AS w
      FROM hv),
    ra AS (
      SELECT event_type, rep, SUM(w) AS sw,
             SUM(CAST(w AS DECIMAL(38,0)) * vm) AS swv
      FROM h GROUP BY 1, 2),
    mq AS (
      SELECT event_type,
             CASE WHEN sw > 0
                  THEN CAST(FLOOR(CAST(swv AS DOUBLE) / sw + 0.5) AS BIGINT)
             END AS mq
      FROM ra),
    o AS (
      SELECT event_type, COUNT(mq) AS n_reps,
             SUM(CAST(mq AS DECIMAL(18,0))) AS s1,
             SUM(CAST(CAST(mq AS DECIMAL(18,0)) * CAST(mq AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS s2
      FROM mq GROUP BY 1)
    SELECT event_type, CAST(n_reps AS BIGINT) AS n_reps,
           ROUND(CAST(s1 AS DOUBLE) / n_reps / 1e6, 6) AS boot_mean,
           ROUND(SQRT((CAST(s2 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_reps)
                      / (n_reps - 1)) / 1e6, 6) AS boot_se
    FROM o
    """,
)
def poisson_bootstrap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap standard error of mean event value per type
    (stats.poisson_bootstrap_mean): 32 one-pass resamples whose Poisson(1)
    weights replay from md5-keyed uniforms through the exact POISSON1_T
    inverse-CDF ladder — the cluster-scale bootstrap (no global n, no
    per-replicate passes), bit-identical in the SQL oracle."""
    from tabsdata_spark import stats

    ev = fan_out(load_events(spark, sf_dir).df)
    return stats.poisson_bootstrap_mean(
        ev, "event_id", "value", ["event_type"], b=32)


_DP_HASH = _HASH60_SQL.format(
    v="event_type || '|' || CAST(day AS VARCHAR)")


@q(
    "dp_noisy_counts_events",
    f"""
    WITH c AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    h AS (
      SELECT event_type, day, n,
             {_ladder_sql(_DP_HASH, GEOM_HALF_T, list(range(-4, 5)))} AS noise
      FROM c WHERE n >= 10)
    SELECT event_type, day, CAST(n AS BIGINT) AS n,
           CAST(GREATEST(n + noise, 0) AS BIGINT) AS noisy_n
    FROM h
    """,
)
def dp_noisy_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private daily event counts
    (stats.dp_noisy_counts): two-sided-geometric integer noise
    (epsilon = ln 2) via the exact GEOM_HALF_T ladder over a keyed
    60-bit uniform, plus k>=10 small-cohort suppression — deterministic
    replay, so the oracle rebuilds the identical release."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    d = ev.select("event_type", F.to_date("ts").alias("day"))
    return stats.dp_noisy_counts(d, ["event_type", "day"], k_min=10)


_CMS_HASH = _HASH60_SQL.format(v="term")


@q(
    "cms_tokens_docs",
    f"""
    WITH {_TOKS_CTE},
    c AS (SELECT term, COUNT(*) AS n FROM toks GROUP BY term),
    top AS (SELECT term, n FROM c ORDER BY n DESC, term LIMIT 30),
    th AS (SELECT term, {_CMS_HASH} AS h FROM (SELECT DISTINCT term FROM toks)),
    tb AS (
      SELECT term, d,
             (h % 1073741824 + d * ((h >> 30) * 2 + 1)) % 1024 AS bucket
      FROM th CROSS JOIN range(4) t(d)),
    cells AS (
      SELECT d, bucket, SUM(n) AS cnt
      FROM c JOIN tb USING (term) GROUP BY 1, 2),
    pr AS (
      SELECT top.term, top.n, tb.d, tb.bucket
      FROM top JOIN tb ON top.term = tb.term)
    SELECT term, CAST(n AS BIGINT) AS exact_n,
           CAST(MIN(COALESCE(cnt, 0)) AS BIGINT) AS cms_n,
           CAST(MIN(COALESCE(cnt, 0)) - n AS BIGINT) AS overcount
    FROM pr LEFT JOIN cells USING (d, bucket)
    GROUP BY term, n
    """,
)
def cms_tokens_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over document tokens (stats.count_min_sketch,
    depth 4 x width 1024, Kirsch-Mitzenmacher double hashing): build the
    counter grid in one explode+agg pass, probe it with the exact top-30
    tokens, and surface estimate vs truth — overcount >= 0 always, by
    construction.  The oracle rebuilds the identical grid in SQL."""
    from tabsdata_spark import stats
    from tabsdata_spark.llm.corpus import clean_tokens

    docs = fan_out(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    toks = docs.select(F.explode(clean_tokens(F.col("text"))).alias("term"))
    exact = (toks.groupBy("term").agg(F.count(F.lit(1)).alias("exact_n"))
             .orderBy(F.col("exact_n").desc(), "term").limit(30))
    est = stats.count_min_sketch(toks, "term", probe=exact,
                                 depth=4, width=1024)
    return (exact.join(est, "term")
            .select("term", "exact_n", "cms_n",
                    (F.col("cms_n") - F.col("exact_n")).alias("overcount")))


@q(
    "holt_linear_events",
    """
    WITH RECURSIVE base AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             COUNT(*) AS y,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY CAST(CAST(ts AS TIMESTAMP) AS DATE))
               AS rn
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT event_type, rn, day, y,
             y * 1000000 AS l, CAST(0 AS BIGINT) AS b
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b2.event_type, b2.rn, b2.day, b2.y,
             CAST(FLOOR((b2.y * 1000000 + s.l + s.b) / 2.0) AS BIGINT),
             CAST(FLOOR((CAST(FLOOR((b2.y * 1000000 + s.l + s.b) / 2.0)
                              AS BIGINT) - s.l + s.b) / 2.0) AS BIGINT)
      FROM base b2 JOIN s ON b2.event_type = s.event_type
                         AND b2.rn = s.rn + 1)
    SELECT event_type, day, CAST(y AS BIGINT) AS n,
           CAST(l AS DOUBLE) / 1e6 AS level,
           CAST(b AS DOUBLE) / 1e6 AS trend,
           CAST(l + b AS DOUBLE) / 1e6 AS forecast_next
    FROM s
    """,
)
def holt_linear_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing of daily event counts per type
    (extensions.holt_linear, alpha = beta = 1/2): micros-integer state
    with explicit floor-halving makes the sequential recursion replay
    bit-identically in the oracle's RECURSIVE CTE.  Series are the
    parallelism unit (applyInPandas per event_type); state is O(1)."""
    from tabsdata_spark import extensions

    ev = load_events(spark, sf_dir).df
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.count(F.lit(1)).alias("n")))
    return extensions.holt_linear(daily, "event_type", "day", "n")


@q(
    "nelson_aalen_orders",
    """
    WITH fs AS (
      SELECT l_orderkey, MIN(l_shipdate) AS ship
      FROM lineitem GROUP BY 1),
    base AS (
      SELECT o_orderpriority AS grp,
             (epoch_us(CAST(ship AS TIMESTAMP))
              - epoch_us(CAST(o_orderdate AS TIMESTAMP))) // 86400000000
             AS days
      FROM orders JOIN fs ON o_orderkey = l_orderkey),
    obs AS (
      SELECT grp, LEAST(days, 60) AS t,
             CASE WHEN days <= 60 THEN 1 ELSE 0 END AS ev
      FROM base WHERE days >= 0),
    pts AS (
      SELECT grp, t, SUM(ev) AS d, SUM(1 - ev) AS c
      FROM obs GROUP BY 1, 2),
    wn AS (
      SELECT grp, t, d, c,
             SUM(d + c) OVER (PARTITION BY grp)
             - SUM(d + c) OVER (PARTITION BY grp ORDER BY t
                                ROWS UNBOUNDED PRECEDING)
             + d + c AS n_risk
      FROM pts),
    hz AS (
      SELECT grp, t, n_risk, d,
             SUM(CAST(FLOOR(d * 1e6 / CAST(n_risk AS DOUBLE) + 0.5)
                      AS BIGINT))
               OVER (PARTITION BY grp ORDER BY t
                     ROWS UNBOUNDED PRECEDING) AS h
      FROM wn)
    SELECT grp AS o_orderpriority, CAST(t AS BIGINT) AS t,
           CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS n_events,
           ROUND(CAST(h AS DOUBLE) / 1e6, 6) AS cum_hazard,
           ROUND(EXP(-(CAST(h AS DOUBLE) / 1e6)), 6) AS na_survival
    FROM hz WHERE d > 0
    """,
)
def nelson_aalen_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative fulfillment hazard per order priority
    (stats.nelson_aalen) on the same right-censored duration table as
    kaplan_meier_orders: hazard increments d/n quantized to micros and
    cumulative-summed as exact integers, Breslow survival exp(-H)."""
    from tabsdata_spark import stats

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    fs = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("ship"))
    days = F.expr("(unix_micros(cast(ship as timestamp))"
                  " - unix_micros(cast(o_orderdate as timestamp)))"
                  " div 86400000000")
    base = (o.join(fs, o["o_orderkey"] == fs["l_orderkey"])
            .filter(days >= 0)
            .select(F.col("o_orderpriority"),
                    F.least(days, F.lit(60)).alias("t"),
                    (days <= 60).alias("ev")))
    return stats.nelson_aalen(base, ["o_orderpriority"], "t", "ev")


@q(
    "theil_sen_events",
    """
    WITH daily AS (
      SELECT event_type,
             epoch_us(CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE)
                           AS TIMESTAMP)) // 86400000000 AS x,
             COUNT(*) AS y
      FROM events GROUP BY 1, 2),
    capped AS (
      SELECT event_type, x, y,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x) AS rn
      FROM daily),
    pts AS (SELECT event_type, x, y FROM capped WHERE rn <= 60),
    prs AS (
      SELECT a.event_type,
             CAST(FLOOR((b.y - a.y) * 1e6 / CAST(b.x - a.x AS DOUBLE)
                        + 0.5) AS BIGINT) AS sm
      FROM pts a JOIN pts b ON a.event_type = b.event_type
                            AND b.x > a.x),
    rk AS (
      SELECT event_type, sm,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY sm) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS np
      FROM prs)
    SELECT event_type, CAST(np AS BIGINT) AS n_pairs,
           ROUND(CAST(sm AS DOUBLE) / 1e6, 6) AS slope
    FROM rk WHERE rn = FLOOR((np + 1) / 2.0)
    """,
)
def theil_sen_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust daily-volume trend per event type
    (stats.theil_sen): median of pairwise slopes over the first 60 days
    of counts — micros-quantized slopes, lower median, bounded
    per-group pairwise enumeration (the 100 TB cap)."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    daily = (ev.groupBy(
        "event_type",
        F.expr("unix_micros(cast(to_date(ts) as timestamp))"
               " div 86400000000").alias("x"))
        .agg(F.count(F.lit(1)).alias("y")))
    return stats.theil_sen(daily, "x", "y", ["event_type"], max_points=60)


@q(
    "skew_kurtosis_events",
    """
    WITH m AS (
      SELECT event_type,
             CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS mm
      FROM events WHERE value IS NOT NULL),
    s AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(mm AS HUGEINT)) AS DOUBLE) AS s1,
             CAST(SUM(CAST(mm AS HUGEINT) * mm) AS DOUBLE) AS s2,
             CAST(SUM(CAST(mm AS HUGEINT) * mm * mm) AS DOUBLE) AS s3,
             CAST(SUM(CAST(mm AS HUGEINT) * mm * mm * mm) AS DOUBLE) AS s4
      FROM m GROUP BY 1),
    c AS (
      SELECT event_type, n, s1, s2, s3, s4,
             s1 / n AS mu
      FROM s),
    k AS (
      SELECT event_type, n, mu,
             s2 / n - mu * mu AS m2,
             s3 / n - 3.0 * mu * (s2 / n) + 2.0 * mu * mu * mu AS m3,
             s4 / n - 4.0 * mu * (s3 / n) + 6.0 * mu * mu * (s2 / n)
               - 3.0 * mu * mu * mu * mu AS m4
      FROM c)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CASE WHEN m2 > 0.0
                THEN ROUND(m3 / SQRT(m2 * m2 * m2), 6) END AS skewness,
           CASE WHEN m2 > 0.0
                THEN ROUND(m4 / (m2 * m2) - 3.0, 6) END AS excess_kurtosis
    FROM k
    """,
)
def skew_kurtosis_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact skewness / excess kurtosis of event values per type
    (stats.exact_skew_kurtosis): MILLIS-quantized integers keep the 4th
    raw moment inside decimal(38,0) out to ~1e14 rows; the central-
    moment closed forms are one fixed IEEE expression on both engines."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    base = (ev.filter(F.col("value").isNotNull())
            .select("event_type",
                    F.floor(F.col("value") * 1000 + F.lit(0.5))
                    .cast("bigint").alias("mm")))
    return stats.exact_skew_kurtosis(base, "mm", ["event_type"])


@q(
    "did_revenue_events",
    """
    WITH base AS (
      SELECT (user_id % 2 = 0) AS t,
             (CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16') AS p,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS vm
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
    agg AS (
      SELECT
        SUM(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS n_t0,
        SUM(CASE WHEN t AND p THEN 1 ELSE 0 END) AS n_t1,
        SUM(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END) AS n_c0,
        SUM(CASE WHEN NOT t AND p THEN 1 ELSE 0 END) AS n_c1,
        SUM(CASE WHEN t AND NOT p THEN CAST(vm AS DECIMAL(38,0))
                 ELSE CAST(0 AS DECIMAL(38,0)) END) AS s_t0,
        SUM(CASE WHEN t AND p THEN CAST(vm AS DECIMAL(38,0))
                 ELSE CAST(0 AS DECIMAL(38,0)) END) AS s_t1,
        SUM(CASE WHEN NOT t AND NOT p THEN CAST(vm AS DECIMAL(38,0))
                 ELSE CAST(0 AS DECIMAL(38,0)) END) AS s_c0,
        SUM(CASE WHEN NOT t AND p THEN CAST(vm AS DECIMAL(38,0))
                 ELSE CAST(0 AS DECIMAL(38,0)) END) AS s_c1
      FROM base)
    SELECT CAST(n_t0 AS BIGINT) AS n_treated_pre,
           CAST(n_t1 AS BIGINT) AS n_treated_post,
           CAST(n_c0 AS BIGINT) AS n_control_pre,
           CAST(n_c1 AS BIGINT) AS n_control_post,
           ROUND(CAST(s_t0 AS DOUBLE) / 1e6 / CAST(n_t0 AS DOUBLE), 6)
             AS mean_treated_pre,
           ROUND(CAST(s_t1 AS DOUBLE) / 1e6 / CAST(n_t1 AS DOUBLE), 6)
             AS mean_treated_post,
           ROUND(CAST(s_c0 AS DOUBLE) / 1e6 / CAST(n_c0 AS DOUBLE), 6)
             AS mean_control_pre,
           ROUND(CAST(s_c1 AS DOUBLE) / 1e6 / CAST(n_c1 AS DOUBLE), 6)
             AS mean_control_post,
           ROUND((CAST(s_t1 AS DOUBLE) / 1e6 / CAST(n_t1 AS DOUBLE)
                  - CAST(s_t0 AS DOUBLE) / 1e6 / CAST(n_t0 AS DOUBLE))
                 - (CAST(s_c1 AS DOUBLE) / 1e6 / CAST(n_c1 AS DOUBLE)
                    - CAST(s_c0 AS DOUBLE) / 1e6 / CAST(n_c0 AS DOUBLE)),
                 6) AS did
    FROM agg
    """,
)
def did_revenue_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on purchase values (stats.did_means):
    even user ids as the treated arm, Jan 16 as the rollout date —
    four exact decimal cell sums in ONE pass, DiD as a fixed IEEE
    expression over them."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    base = (ev.filter((F.col("event_type") == "purchase")
                      & F.col("value").isNotNull())
            .select((F.col("user_id") % 2 == 0).alias("t"),
                    (F.col("ts") >= F.lit("2024-01-16").cast("timestamp"))
                    .alias("p"),
                    F.col("value")))
    return stats.did_means(base, "t", "p", "value")


@q(
    "ipw_value_events",
    """
    WITH base AS (
      SELECT event_type AS s, (user_id % 3 = 0) AS tr,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS vm
      FROM events WHERE value IS NOT NULL),
    per AS (
      SELECT s, COUNT(*) AS n_s,
             SUM(CASE WHEN tr THEN 1 ELSE 0 END) AS n_t,
             SUM(CASE WHEN tr THEN CAST(vm AS DECIMAL(38,0))
                      ELSE CAST(0 AS DECIMAL(38,0)) END) AS st,
             SUM(CASE WHEN NOT tr THEN CAST(vm AS DECIMAL(38,0))
                      ELSE CAST(0 AS DECIMAL(38,0)) END) AS sc
      FROM base GROUP BY 1),
    ok AS (SELECT *, (n_t > 0 AND n_t < n_s) AS o FROM per),
    tot AS (
      SELECT COUNT(*) AS n_strata,
             SUM(CASE WHEN o THEN 0 ELSE 1 END) AS n_excluded,
             SUM(CASE WHEN o THEN n_s ELSE 0 END) AS n,
             SUM(CASE WHEN o THEN n_t ELSE 0 END) AS nt,
             SUM(CASE WHEN o THEN st ELSE CAST(0 AS DECIMAL(38,0)) END)
               AS rt,
             SUM(CASE WHEN o THEN sc ELSE CAST(0 AS DECIMAL(38,0)) END)
               AS rc,
             SUM(CASE WHEN o THEN CAST(FLOOR(
                   CAST(st AS DOUBLE) * CAST(n_s AS DOUBLE)
                   / CAST(n_t AS DOUBLE) + 0.5) AS BIGINT)
                 ELSE 0 END) AS wt,
             SUM(CASE WHEN o THEN CAST(FLOOR(
                   CAST(sc AS DOUBLE) * CAST(n_s AS DOUBLE)
                   / CAST(n_s - n_t AS DOUBLE) + 0.5) AS BIGINT)
                 ELSE 0 END) AS wc
      FROM ok)
    SELECT CAST(n_strata AS BIGINT) AS n_strata,
           CAST(n_excluded AS BIGINT) AS n_excluded,
           CAST(n AS BIGINT) AS n,
           ROUND(CAST(rt AS DOUBLE) / 1e6 / CAST(nt AS DOUBLE)
                 - CAST(rc AS DOUBLE) / 1e6 / CAST(n - nt AS DOUBLE), 6)
             AS naive_diff,
           ROUND(CAST(wt AS DOUBLE) / 1e6 / CAST(n AS DOUBLE), 6)
             AS ipw_treated_mean,
           ROUND(CAST(wc AS DOUBLE) / 1e6 / CAST(n AS DOUBLE), 6)
             AS ipw_control_mean,
           ROUND(CAST(wt AS DOUBLE) / 1e6 / CAST(n AS DOUBLE)
                 - CAST(wc AS DOUBLE) / 1e6 / CAST(n AS DOUBLE), 6)
             AS ipw_diff
    FROM tot
    """,
)
def ipw_value_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted value contrast (stats.ipw_means):
    event_type strata, user_id % 3 == 0 as treatment — per-stratum
    reweighted contributions quantized back to micros BEFORE the
    cross-strata sum, so the estimate is exact integers everywhere."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    base = (ev.filter(F.col("value").isNotNull())
            .select(F.col("event_type").alias("s"),
                    (F.col("user_id") % 3 == 0).alias("tr"),
                    F.col("value")))
    return stats.ipw_means(base, ["s"], "tr", "value")


@q(
    "position_attribution_events",
    """
    WITH conv AS (
      SELECT user_id AS u, epoch_us(CAST(ts AS TIMESTAMP)) AS pts,
             event_id AS pid,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS vm
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
    tch AS (
      SELECT user_id AS u, epoch_us(CAST(ts AS TIMESTAMP)) AS tts,
             event_id AS tid, event_type AS touch_type
      FROM events WHERE event_type IN ('click', 'view')),
    pairs AS (
      SELECT touch_type, vm, pid, tts, tid
      FROM tch JOIN conv ON tch.u = conv.u
       AND tts <= pts AND tts > pts - 604800000000),
    wp AS (
      SELECT touch_type, vm,
             COUNT(*) OVER (PARTITION BY pid) AS n,
             ROW_NUMBER() OVER (PARTITION BY pid ORDER BY tts, tid) AS rn
      FROM pairs),
    cr AS (
      SELECT touch_type, rn,
             CASE WHEN n = 1 THEN vm
                  WHEN n = 2 THEN vm // 2
                       + CASE WHEN rn = 1 THEN vm - 2 * (vm // 2)
                              ELSE 0 END
                  ELSE CASE WHEN rn = 1 OR rn = n THEN (vm * 2) // 5
                       ELSE (vm - 2 * ((vm * 2) // 5)) // (n - 2)
                            + CASE WHEN rn = 2
                                   THEN (vm - 2 * ((vm * 2) // 5))
                                        - ((vm - 2 * ((vm * 2) // 5))
                                           // (n - 2)) * (n - 2)
                                   ELSE 0 END
                       END
             END AS credit
      FROM wp),
    pt AS (
      SELECT touch_type, COUNT(*) AS n_credits,
             SUM(CAST(credit AS DECIMAL(38,0))) AS cm,
             SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS nf
      FROM cr GROUP BY 1),
    tot AS (SELECT COUNT(*) AS np,
                   SUM(CAST(vm AS DECIMAL(38,0))) AS tm FROM conv),
    cs AS (SELECT SUM(cm) AS csum, SUM(nf) AS fsum FROM pt)
    SELECT touch_type, CAST(n_credits AS BIGINT) AS n_credits,
           CAST(cm AS DOUBLE) / 1e6 AS revenue
    FROM pt
    UNION ALL
    SELECT 'direct' AS touch_type,
           CAST(np - COALESCE(fsum, 0) AS BIGINT) AS n_credits,
           CAST(tm - COALESCE(csum, 0) AS DOUBLE) / 1e6 AS revenue
    FROM tot, cs
    """,
)
def position_attribution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped position-based attribution
    (extensions.position_attribution): 40% of each purchase to the
    first and last click/view touch in the prior 7 days, 20% split
    across the middles — all integer micros with the remainders pinned
    deterministically, so credits balance to the total exactly."""
    from tabsdata_spark import extensions

    ev = load_events(spark, sf_dir).df
    return extensions.position_attribution(
        ev, "user_id", "ts", "event_type", "value",
        conversion_type="purchase", touch_types=["click", "view"],
        lookback="7 days")


@q(
    "hits_customer_supplier",
    """
    WITH e AS (
      SELECT DISTINCT o_custkey AS u, l_suppkey AS v
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    nu AS (SELECT COUNT(DISTINCT u) AS n FROM e),
    h0 AS (SELECT DISTINCT u AS node, 1.0 / (SELECT n FROM nu) AS h
           FROM e),
    a1r AS (
      SELECT v AS node,
             CAST(SUM(CAST(FLOOR(h * 1e12 + 0.5) AS HUGEINT)) AS DOUBLE)
             / 1e12 AS a
      FROM e JOIN h0 ON e.u = h0.node GROUP BY v),
    a1t AS (SELECT SUM(CAST(FLOOR(a * 1e12 + 0.5) AS HUGEINT)) AS t
            FROM a1r),
    a1 AS (SELECT node,
                  CAST(CAST(FLOOR(a * 1e12 + 0.5) AS HUGEINT) AS DOUBLE)
                  / CAST(t AS DOUBLE) AS a
           FROM a1r, a1t),
    h1r AS (
      SELECT u AS node,
             CAST(SUM(CAST(FLOOR(a * 1e12 + 0.5) AS HUGEINT)) AS DOUBLE)
             / 1e12 AS h
      FROM e JOIN a1 ON e.v = a1.node GROUP BY u),
    h1t AS (SELECT SUM(CAST(FLOOR(h * 1e12 + 0.5) AS HUGEINT)) AS t
            FROM h1r),
    h1 AS (SELECT node,
                  CAST(CAST(FLOOR(h * 1e12 + 0.5) AS HUGEINT) AS DOUBLE)
                  / CAST(t AS DOUBLE) AS h
           FROM h1r, h1t),
    a2r AS (
      SELECT v AS node,
             CAST(SUM(CAST(FLOOR(h * 1e12 + 0.5) AS HUGEINT)) AS DOUBLE)
             / 1e12 AS a
      FROM e JOIN h1 ON e.u = h1.node GROUP BY v),
    a2t AS (SELECT SUM(CAST(FLOOR(a * 1e12 + 0.5) AS HUGEINT)) AS t
            FROM a2r),
    a2 AS (SELECT node,
                  CAST(CAST(FLOOR(a * 1e12 + 0.5) AS HUGEINT) AS DOUBLE)
                  / CAST(t AS DOUBLE) AS a
           FROM a2r, a2t),
    h2r AS (
      SELECT u AS node,
             CAST(SUM(CAST(FLOOR(a * 1e12 + 0.5) AS HUGEINT)) AS DOUBLE)
             / 1e12 AS h
      FROM e JOIN a2 ON e.v = a2.node GROUP BY u),
    h2t AS (SELECT SUM(CAST(FLOOR(h * 1e12 + 0.5) AS HUGEINT)) AS t
            FROM h2r),
    h2 AS (SELECT node,
                  CAST(CAST(FLOOR(h * 1e12 + 0.5) AS HUGEINT) AS DOUBLE)
                  / CAST(t AS DOUBLE) AS h
           FROM h2r, h2t)
    SELECT node, 'hub' AS role, ROUND(h, 9) AS score FROM h2
    UNION ALL
    SELECT node, 'authority' AS role, ROUND(a, 9) AS score FROM a2
    """,
)
def hits_customer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs and authorities (graph.hits_exact, 2 iterations) over
    the customer -> supplier bipartite order graph: picos-quantized
    contributions summed as exact decimals, L1 normalization after
    every half-step — bit-exact vs the oracle's unrolled CTE ladder."""
    from tabsdata_spark import graph

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    edges = (o.join(li, o["o_orderkey"] == li["l_orderkey"])
             .select("o_custkey", "l_suppkey"))
    # thin score vectors: cap the iteration shuffles (persist pins
    # partitioning, so AQE can't coalesce the 200-task default away)
    return graph.hits_exact(edges, "o_custkey", "l_suppkey", iters=2,
                            score_partitions=16)


@q(
    "random_projection_emb",
    """
    SELECT vec_id, CAST(j AS INTEGER) AS dim,
           ROUND(list_reduce(
             list_transform(range(1, len(embedding) + 1),
               i -> embedding[i]::DOUBLE *
                    (CASE WHEN (i * 2654435761 + (j + 1) * 1779033703
                                + i * (j + 1) * 97) % 65521 % 2 = 0
                          THEN 1.0 ELSE -1.0 END)),
             (p, q) -> p + q), 6) AS proj
    FROM embeddings, range(0, 8) t(j)
    """,
)
def random_projection_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss projection to 8 dims with a deterministic
    Rademacher sign matrix (similarity.random_projection): keyed
    integer mix -> +-1 signs, fixed-order double fold per component —
    one narrow per-row pass, no shuffle, bit-exact vs the SQL replay."""
    from tabsdata_spark.llm import similarity

    emb = fan_out(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return similarity.random_projection(emb, out_dim=8)


@q(
    "stream_ewma_events",
    """
    WITH RECURSIVE base AS (
      SELECT event_id, user_id, value,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS ym,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id < 40),
    s AS (
      SELECT event_id, user_id, value, rn, ym AS l
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.event_id, b.user_id, b.value, b.rn,
             CAST(FLOOR((b.ym + s.l) / 2.0) AS BIGINT)
      FROM base b JOIN s ON b.user_id = s.user_id AND b.rn = s.rn + 1)
    SELECT event_id, user_id, value,
           CAST(l AS DOUBLE) / 1e6 AS level
    FROM s
    """,
)
def stream_ewma_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE streaming per-key EWMA (streaming/bus.py stream_ewma,
    applyInPandasWithState, 11th live streaming operator): the events
    slice streams back under an availableNow trigger and the O(1)
    integer-state smoother emits every row's level.  The oracle is the
    batch RECURSIVE-CTE replay of the identical floor-halving micros
    recursion — the same exactness contract as holt_linear_events, now
    held live through the state store."""
    import tempfile

    from tabsdata_spark.streaming import bus

    ev = (load_events(spark, sf_dir).df
          .filter(F.col("user_id") < 40)
          .select("event_id", "user_id", "ts", "value")
          .orderBy("ts", "event_id"))
    tmp = tempfile.mkdtemp(prefix="td_stream_ewma_")
    ev.coalesce(1).write.parquet(f"{tmp}/src/b1")
    schema = "event_id long, user_id long, ts timestamp, value double"
    stream = bus.stream_file_source(spark, f"{tmp}/src/*", schema)
    out = bus.stream_ewma(stream, "user_id", "ts", "value", "event_id")
    rows: list = []
    qy = (out.writeStream.outputMode("update")
          .foreachBatch(lambda b, i: rows.extend(b.collect()))
          .option("checkpointLocation", f"{tmp}/ckpt")
          .trigger(availableNow=True).start())
    qy.awaitTermination(300)
    return spark.createDataFrame(
        [(r["event_id"], r["k"], r["value"], r["level"]) for r in rows],
        "event_id long, user_id long, value double, level double")


@q(
    "fd_violations_orders",
    """
    WITH p1 AS (
      SELECT o_custkey AS a, o_orderpriority AS b FROM orders),
    c1 AS (SELECT a, b, COUNT(*) AS c FROM p1 GROUP BY 1, 2),
    g1 AS (SELECT a, MAX(c) AS keep, SUM(c) AS tot FROM c1 GROUP BY a),
    r1 AS (
      SELECT 'o_custkey' AS determinant, 'o_orderpriority' AS dependent,
             CAST(SUM(tot) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_det_groups,
             CAST(SUM(tot) - SUM(keep) AS BIGINT) AS n_violations,
             ROUND(CAST(SUM(tot) - SUM(keep) AS DOUBLE)
                   / CAST(SUM(tot) AS DOUBLE), 6) AS violation_rate
      FROM g1),
    p2 AS (
      SELECT l_orderkey AS a, l_returnflag AS b FROM lineitem),
    c2 AS (SELECT a, b, COUNT(*) AS c FROM p2 GROUP BY 1, 2),
    g2 AS (SELECT a, MAX(c) AS keep, SUM(c) AS tot FROM c2 GROUP BY a),
    r2 AS (
      SELECT 'l_orderkey' AS determinant, 'l_returnflag' AS dependent,
             CAST(SUM(tot) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_det_groups,
             CAST(SUM(tot) - SUM(keep) AS BIGINT) AS n_violations,
             ROUND(CAST(SUM(tot) - SUM(keep) AS DOUBLE)
                   / CAST(SUM(tot) AS DOUBLE), 6) AS violation_rate
      FROM g2)
    SELECT * FROM r1 UNION ALL SELECT * FROM r2
    """,
)
def fd_violations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-FD profiling (scale.fd_violation_report, g3 error):
    does o_custkey determine o_orderpriority, and l_orderkey
    l_returnflag?  Exact integer violation counts per candidate pair;
    one (A,B) shuffle each."""
    from tabsdata_spark import scale

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    r1 = scale.fd_violation_report(o, [("o_custkey", "o_orderpriority")])
    r2 = scale.fd_violation_report(li, [("l_orderkey", "l_returnflag")])
    return r1.unionByName(r2)


@q(
    "ndcg_label_emb",
    """
    WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlab
               FROM embeddings WHERE vec_id < 20),
    sc AS (
      SELECT qid, qlab, e.vec_id AS cid, e.label AS clab,
             list_cosine_similarity(e.embedding::DOUBLE[], qv::DOUBLE[])
               AS sim
      FROM embeddings e, q WHERE e.vec_id <> qid),
    rk AS (
      SELECT qid, qlab, clab,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY sim DESC, cid) AS r
      FROM sc),
    top AS (SELECT * FROM rk WHERE r <= 10),
    d AS (
      SELECT qid, qlab,
             SUM(CASE WHEN clab = qlab
                      THEN CAST(FLOOR(1e12 / (LN(r + 1) / LN(2)) + 0.5)
                                AS BIGINT)
                      ELSE 0 END) AS dcgq
      FROM top GROUP BY 1, 2),
    lc AS (SELECT label, COUNT(*) AS ln FROM embeddings GROUP BY 1),
    pr AS (SELECT qid, qlab, dcgq, CAST(ln - 1 AS BIGINT) AS n_rel
           FROM d JOIN lc ON qlab = label),
    iw AS (SELECT qid, unnest(range(1, LEAST(10, n_rel) + 1)) AS i
           FROM pr WHERE n_rel > 0),
    ic AS (SELECT qid,
                  SUM(CAST(FLOOR(1e12 / (LN(i + 1) / LN(2)) + 0.5)
                           AS BIGINT)) AS idcgq
           FROM iw GROUP BY qid)
    SELECT pr.qid AS query_id, qlab AS label, n_rel,
           CASE WHEN n_rel > 0
                THEN ROUND(CAST(dcgq AS DOUBLE) / CAST(idcgq AS DOUBLE), 6)
           END AS ndcg
    FROM pr LEFT JOIN ic ON pr.qid = ic.qid
    """,
)
def ndcg_label_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval eval: NDCG@10 for the first 20 vectors as queries,
    same-label candidates as relevance (similarity.ndcg_at_k) —
    1e12-quantized log2 discounts make DCG/IDCG exact integer sums, so
    the score is bit-stable across engines and partitionings."""
    from tabsdata_spark.llm import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding", "label")
    return similarity.ndcg_at_k(emb, qs, k=10)


import hashlib as _hashlib

#: engine-portable XOR permutation constants for the minhash
#: calibration query: int(md5('perm:i')[:15], 16) — the same integers
#: are inlined into the oracle SQL below and passed to the Spark
#: operator, so both engines build identical signatures.
_MH_CAL_CONSTS = [
    int(_hashlib.md5(f"perm:{i}".encode()).hexdigest()[:15], 16)
    for i in range(16)
]

_MH_CAL_VALUES = ", ".join(
    f"({i}, {c})" for i, c in enumerate(_MH_CAL_CONSTS))


@q(
    "minhash_calibration_docs",
    rf"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         x -> x <> '') AS toks
      FROM documents WHERE doc_id < 60),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3
                  THEN list_transform(range(1, len(toks) - 1),
                       i -> array_to_string(toks[i:i+2], ' '))
                  ELSE [array_to_string(toks, ' ')] END) AS g
      FROM t),
    ex AS (SELECT doc_id, unnest(g) AS gram FROM sh),
    hv AS (SELECT doc_id, {_HASH60_SQL.format(v='gram')} AS h FROM ex),
    consts(i, c) AS (VALUES {_MH_CAL_VALUES}),
    sigs AS (
      SELECT doc_id, i, MIN(xor(h, c)) AS s
      FROM hv, consts GROUP BY doc_id, i),
    est AS (
      SELECT sa.doc_id AS a_id, sb.doc_id AS b_id,
             SUM(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) AS eq
      FROM sigs sa JOIN sigs sb ON sa.i = sb.i AND sa.doc_id < sb.doc_id
      GROUP BY 1, 2),
    sz AS (SELECT doc_id, len(g) AS n FROM sh),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared
      FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    grid AS (
      SELECT sa.doc_id AS a_id, sb.doc_id AS b_id, sa.n AS na, sb.n AS nb
      FROM sz sa JOIN sz sb ON sa.doc_id < sb.doc_id),
    j AS (
      SELECT grid.a_id, grid.b_id,
             ROUND(eq / 16.0, 6) AS est_jaccard,
             ROUND(COALESCE(shared, 0)
                   / CAST(na + nb - COALESCE(shared, 0) AS DOUBLE), 6)
               AS exact_jaccard
      FROM grid
      JOIN est ON grid.a_id = est.a_id AND grid.b_id = est.b_id
      LEFT JOIN inter ON grid.a_id = inter.a_id AND grid.b_id = inter.b_id)
    SELECT a_id, b_id, est_jaccard, exact_jaccard,
           ROUND(ABS(est_jaccard - exact_jaccard), 6) AS abs_err
    FROM j
    """,
)
def minhash_calibration_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash sketch-accuracy calibration
    (llm/dedup.minhash_jaccard_calibration) on a bounded 60-doc slice:
    estimated vs exact shingle Jaccard per pair under 16 XOR-bijection
    permutations of an engine-portable md5 base hash — the report that
    sizes num_hashes before trusting LSH at corpus scale."""
    from tabsdata_spark.llm import dedup, textual

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter(F.col("doc_id") < 60))
    return dedup.minhash_jaccard_calibration(
        docs, num_hashes=16, shingle_size=3,
        hash_fn=textual.portable_hash60, xor_consts=_MH_CAL_CONSTS)


@q(
    "holt_winters_events",
    """
    WITH RECURSIVE base AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             COUNT(*) AS y,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY CAST(CAST(ts AS TIMESTAMP) AS DATE))
               AS rn
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT event_type, rn, day, y,
             y * 1000000 AS l, CAST(0 AS BIGINT) AS b,
             CAST(0 AS BIGINT) AS sn,
             [CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
              CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
              CAST(0 AS BIGINT)] AS sl
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b2.event_type, b2.rn, b2.day, b2.y,
             CAST(FLOOR((b2.y * 1000000 - s.sl[1] + s.l + s.b) / 2.0)
                  AS BIGINT),
             CAST(FLOOR((CAST(FLOOR((b2.y * 1000000 - s.sl[1] + s.l + s.b)
                                    / 2.0) AS BIGINT) - s.l + s.b) / 2.0)
                  AS BIGINT),
             CAST(FLOOR((b2.y * 1000000
                         - CAST(FLOOR((b2.y * 1000000 - s.sl[1] + s.l + s.b)
                                      / 2.0) AS BIGINT)
                         + s.sl[1]) / 2.0) AS BIGINT),
             list_append(s.sl[2:7],
               CAST(FLOOR((b2.y * 1000000
                           - CAST(FLOOR((b2.y * 1000000 - s.sl[1] + s.l
                                         + s.b) / 2.0) AS BIGINT)
                           + s.sl[1]) / 2.0) AS BIGINT))
      FROM base b2 JOIN s ON b2.event_type = s.event_type
                         AND b2.rn = s.rn + 1)
    SELECT event_type, day, CAST(y AS BIGINT) AS n,
           CAST(l AS DOUBLE) / 1e6 AS level,
           CAST(b AS DOUBLE) / 1e6 AS trend,
           CAST(sn AS DOUBLE) / 1e6 AS seasonal,
           CAST(l + b + sl[1] AS DOUBLE) / 1e6 AS forecast_next
    FROM s
    """,
)
def holt_winters_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive weekly-seasonal smoothing of daily event
    counts per type (extensions.holt_winters, period 7): micros-integer
    level/trend/seasonal state with explicit floor-halving; the oracle
    RECURSIVE CTE carries the 7-slot seasonal ring as a LIST column and
    replays the recursion bit-for-bit.  NOTE the anchor row keeps the
    all-zero ring (its seasonal update is exactly 0 by construction)."""
    from tabsdata_spark import extensions

    ev = load_events(spark, sf_dir).df
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.count(F.lit(1)).alias("n")))
    return extensions.holt_winters(daily, "event_type", "day", "n",
                                   period=7)


@q(
    "image_patches_bmp",
    """
    WITH ids AS (
      SELECT doc_id, doc_id % 25 AS cls, doc_id % 3 AS nz
      FROM documents WHERE doc_id < 100),
    px AS (
      SELECT doc_id, r.r, c.c,
             CASE WHEN r.r = 0 AND c.c < nz THEN 255
                  ELSE (cls * 31 + r.r * 7 + c.c * 13) % 256 END AS v
      FROM ids,
           (SELECT unnest(range(0, 16)) AS r) r,
           (SELECT unnest(range(0, 16)) AS c) c),
    p AS (
      SELECT doc_id, CAST(r // 4 AS INTEGER) AS patch_row,
             CAST(c // 4 AS INTEGER) AS patch_col,
             CAST(SUM(3 * v) AS BIGINT) AS pixel_sum
      FROM px GROUP BY 1, 2, 3)
    SELECT doc_id, patch_row, patch_col, pixel_sum,
           FLOOR(pixel_sum * 1e6 / 48.0 + 0.5) / 1e6 AS pixel_mean
    FROM p
    """,
)
def image_patches_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch featurization (llm/multimodal.image_patches):
    the same closed-form 16x16 BMPs as image_ahash_pairs, decoded
    through the spec-level codec and split into 4x4 patches with EXACT
    integer pixel sums; the oracle recomputes each patch from the
    pixel formula.  Means are half-up micros on both sides."""
    import pandas as pd

    from tabsdata_spark.llm import multimodal

    def make_bmps(batches):
        import numpy as np

        from tabsdata_spark.llm import codecs

        for pdf in batches:
            payloads = []
            for i in pdf["doc_id"]:
                i = int(i)
                cls, nz = i % 25, i % 3
                r = np.arange(16).reshape(16, 1)
                c = np.arange(16).reshape(1, 16)
                v = ((cls * 31 + r * 7 + c * 13) % 256).astype(np.uint8)
                v[0, :nz] = 255
                px = np.repeat(v[:, :, None], 3, axis=2)
                payloads.append(codecs.encode_bmp(px))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter(F.col("doc_id") < 100).select("doc_id"))
    import pyspark.sql.types as T
    bmps = docs.mapInPandas(make_bmps, T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType())]))
    return multimodal.image_patches(bmps, grid=4)


@q(
    "xcorr_events",
    """
    WITH daily AS (
      SELECT event_type,
             epoch_us(CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE)
                           AS TIMESTAMP)) // 86400000000 AS t,
             COUNT(*) AS y
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1, 2),
    xs AS (SELECT t, y AS x FROM daily WHERE event_type = 'click'),
    ys AS (SELECT t AS ty, y FROM daily WHERE event_type = 'purchase'),
    lg AS (SELECT unnest(range(-7, 8)) AS lag),
    j AS (
      SELECT lag, x, y
      FROM xs, lg JOIN ys ON xs.t + lg.lag = ys.ty),
    m AS (
      SELECT lag, COUNT(*) AS n,
             CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sx2,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS sy2
      FROM j GROUP BY lag)
    SELECT CAST(lag AS INTEGER) AS lag, CAST(n AS BIGINT) AS n,
           CASE WHEN n >= 3 AND n * sx2 - sx * sx > 0.0
                     AND n * sy2 - sy * sy > 0.0
                THEN ROUND((n * sxy - sx * sy)
                           / SQRT((n * sx2 - sx * sx)
                                  * (n * sy2 - sy * sy)), 6)
           END AS r
    FROM m
    """,
)
def xcorr_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation (stats.cross_correlation) between
    daily click and purchase counts at lags -7..7: exact decimal
    moments per lag, one shifted-key join, NULL on degenerate lags."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    day = F.expr("unix_micros(cast(to_date(ts) as timestamp))"
                 " div 86400000000")
    daily = (ev.filter(F.col("event_type").isin("click", "purchase"))
             .groupBy("event_type", day.alias("t"))
             .agg(F.count(F.lit(1)).alias("y")))
    xs = daily.filter(F.col("event_type") == "click").select("t", F.col("y").alias("x"))
    ys = daily.filter(F.col("event_type") == "purchase").select("t", "y")
    return stats.cross_correlation(xs, ys, "t", "x", "y", max_lag=7)


@q(
    "l_diversity_events",
    """
    WITH base AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             user_id % 20 AS sens
      FROM events),
    cells AS (
      SELECT event_type, day, sens, COUNT(*) AS c
      FROM base GROUP BY 1, 2, 3)
    SELECT event_type, day, CAST(SUM(c) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS l_distinct
    FROM cells GROUP BY 1, 2
    """,
)
def l_diversity_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity disclosure report (stats.l_diversity): equivalence
    classes are (event_type, day), the synthetic sensitive attribute is
    user_id % 20 — class size and distinct-sensitive count, the
    companion check to k_anonymity_events."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    base = ev.select("event_type", F.to_date("ts").alias("day"),
                     (F.col("user_id") % 20).alias("sens"))
    return stats.l_diversity(base, ["event_type", "day"], "sens")


@q(
    "prefix_dim_quality_emb",
    """
    WITH q AS (SELECT vec_id AS qid, embedding AS qv
               FROM embeddings WHERE vec_id < 20),
    sc AS (
      SELECT qid, e.vec_id AS cid,
             list_cosine_similarity(e.embedding::DOUBLE[], qv::DOUBLE[])
               AS cf,
             list_cosine_similarity(e.embedding[1:16]::DOUBLE[],
                                    qv[1:16]::DOUBLE[]) AS cp
      FROM embeddings e, q WHERE e.vec_id <> qid),
    rk AS (
      SELECT qid, cid, cf, cp,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cf DESC, cid)
               AS rf,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cp DESC, cid)
               AS rp
      FROM sc),
    ag AS (
      SELECT qid, COUNT(*) AS n_candidates,
             MIN(CASE WHEN rf = 1 THEN cid END) AS top1_full,
             MIN(CASE WHEN rp = 1 THEN cid END) AS top1_prefix,
             SUM(CAST(FLOOR(ABS(cf - cp) * 1e6 + 0.5) AS BIGINT)) AS sd
      FROM rk GROUP BY qid)
    SELECT qid AS query_id, CAST(n_candidates AS BIGINT) AS n_candidates,
           top1_full, top1_prefix,
           top1_full = top1_prefix AS top1_agree,
           ROUND(CAST(sd AS DOUBLE) / 1e6 / CAST(n_candidates AS DOUBLE),
                 6) AS mean_abs_cos_delta
    FROM ag
    """,
)
def prefix_dim_quality_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka prefix-truncation quality
    (similarity.prefix_dim_quality): full-dim vs first-16-dim cosine
    for the first 20 queries — top-1 agreement and micros-exact mean
    absolute cosine delta."""
    from tabsdata_spark.llm import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return similarity.prefix_dim_quality(emb, qs, prefix_dim=16)


@q(
    "auc_doclen_en",
    r"""
    WITH base AS (
      SELECT len(list_filter(regexp_split_to_array(trim(lower(text)),
                                                   '\s+'), x -> x <> ''))
               AS s,
             (lang = 'en') AS lab
      FROM documents),
    pts AS (
      SELECT s, SUM(CASE WHEN lab THEN 1 ELSE 0 END) AS p,
             SUM(CASE WHEN lab THEN 0 ELSE 1 END) AS ng
      FROM base GROUP BY s),
    cum AS (
      SELECT s, p, ng,
             COALESCE(SUM(ng) OVER (ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), 0) AS cumneg
      FROM pts),
    tot AS (
      SELECT SUM(p) AS n_pos, SUM(ng) AS n_neg,
             SUM(CAST(2 * p * cumneg + p * ng AS DECIMAL(38,0))) AS num
      FROM cum)
    SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN ROUND(CAST(num AS DOUBLE)
                           / (2.0 * CAST(n_pos AS DOUBLE)
                              * CAST(n_neg AS DOUBLE)), 6)
           END AS auc
    FROM tot
    """,
)
def auc_doclen_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC AUC (stats.roc_auc, the Mann-Whitney
    identity): does token count separate English docs from the rest?
    Score-level aggregation first, so the cumulative window sees score
    CARDINALITY, never row count — no global per-row rank."""
    from tabsdata_spark import stats
    from tabsdata_spark.llm import textual

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.select(
        F.size(textual.tokens(F.lower(F.col("text")))).alias("s"),
        (F.col("lang") == "en").alias("lab"))
    return stats.roc_auc(base, "s", "lab")


@q(
    "pr_curve_docs",
    """
    WITH base AS (
      SELECT LEAST(1.0, len(trim(text)) / 500.0) AS s,
             (lang = 'en') AS lab
      FROM documents),
    cells AS (
      SELECT CAST(LEAST(GREATEST(FLOOR(s * 10), 0), 9) AS INTEGER) AS bin,
             SUM(CASE WHEN lab THEN 1 ELSE 0 END) AS p,
             SUM(CASE WHEN lab THEN 0 ELSE 1 END) AS ng
      FROM base GROUP BY 1),
    cum AS (
      SELECT bin,
             SUM(p) OVER (ORDER BY bin DESC
                          ROWS UNBOUNDED PRECEDING) AS tp,
             SUM(ng) OVER (ORDER BY bin DESC
                           ROWS UNBOUNDED PRECEDING) AS fp,
             SUM(p) OVER () AS pos
      FROM cells)
    SELECT bin AS threshold_bin,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CASE WHEN tp + fp > 0
                THEN ROUND(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6)
           END AS precision,
           CASE WHEN pos > 0
                THEN ROUND(CAST(tp AS DOUBLE) / CAST(pos AS DOUBLE), 6)
           END AS recall,
           CASE WHEN tp + fp > 0 AND tp > 0
                THEN ROUND(2.0 * (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))
                           * (CAST(tp AS DOUBLE) / CAST(pos AS DOUBLE))
                           / (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
                              + CAST(tp AS DOUBLE) / CAST(pos AS DOUBLE)),
                           6)
           END AS f1
    FROM cum
    """,
)
def pr_curve_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 operating-point table (stats.pr_curve) for
    the length-based quality proxy against the English label: exact
    integer counts per threshold bin, bounded 10-row windows."""
    from tabsdata_spark import stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.select(
        F.least(F.lit(1.0),
                F.length(F.trim(F.col("text"))) / 500.0).alias("s"),
        (F.col("lang") == "en").alias("lab"))
    return stats.pr_curve(base, "s", "lab", bins=10)


@q(
    "kappa_langid_docs",
    r"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         t -> t <> '') AS t
      FROM documents),
    scored AS (
      SELECT lang,
             len(list_filter(t, x -> x IN ('der','die','und','das','nicht')))
                 AS s_de,
             len(list_filter(t, x -> x IN ('the','and','of','is','that')))
                 AS s_en,
             len(list_filter(t, x -> x IN ('el','la','los','que','de')))
                 AS s_es,
             len(list_filter(t, x -> x IN ('le','les','des','est','une')))
                 AS s_fr,
             len(list_filter(t, x -> x IN ('de','shi','le','bu','wo')))
                 AS s_zh
      FROM toks),
    f1 AS (SELECT lang, s_en, s_es, s_fr, s_zh,
                  s_de AS bs, 'de' AS bl FROM scored),
    f2 AS (SELECT lang, s_es, s_fr, s_zh,
                  CASE WHEN s_en > bs THEN s_en ELSE bs END AS bs,
                  CASE WHEN s_en > bs THEN 'en' ELSE bl END AS bl FROM f1),
    f3 AS (SELECT lang, s_fr, s_zh,
                  CASE WHEN s_es > bs THEN s_es ELSE bs END AS bs,
                  CASE WHEN s_es > bs THEN 'es' ELSE bl END AS bl FROM f2),
    f4 AS (SELECT lang, s_zh,
                  CASE WHEN s_fr > bs THEN s_fr ELSE bs END AS bs,
                  CASE WHEN s_fr > bs THEN 'fr' ELSE bl END AS bl FROM f3),
    f5 AS (SELECT lang,
                  CASE WHEN s_zh > bs THEN s_zh ELSE bs END AS bs,
                  CASE WHEN s_zh > bs THEN 'zh' ELSE bl END AS bl FROM f4),
    pred AS (SELECT lang AS a,
                    CASE WHEN bs > 0 THEN bl ELSE 'und' END AS b
             FROM f5),
    cells AS (SELECT a, b, COUNT(*) AS c FROM pred GROUP BY 1, 2),
    rws AS (SELECT a, SUM(c) AS ra FROM cells GROUP BY a),
    cls AS (SELECT b, SUM(c) AS cb FROM cells GROUP BY b),
    pe_ AS (SELECT COALESCE(SUM(CAST(ra AS DECIMAL(38,0))
                                * CAST(cb AS DECIMAL(38,0))),
                            CAST(0 AS DECIMAL(38,0))) AS pen
            FROM rws JOIN cls ON rws.a = cls.b),
    bse AS (SELECT SUM(c) AS n,
                   SUM(CASE WHEN a = b THEN c ELSE 0 END) AS d
            FROM cells)
    SELECT CAST(n AS BIGINT) AS n, CAST(d AS BIGINT) AS n_agree,
           ROUND(CAST(d AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
           ROUND(CAST(pen AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
           CASE WHEN CAST(pen AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) < 1.0
                THEN ROUND((CAST(d AS DOUBLE) / CAST(n AS DOUBLE)
                            - CAST(pen AS DOUBLE)
                              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                           / (1.0 - CAST(pen AS DOUBLE)
                              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))),
                           6)
           END AS kappa
    FROM bse, pe_
    """,
)
def kappa_langid_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (stats.cohens_kappa) between the marker-argmax
    language_id prediction and the true lang label — the
    beyond-chance scalar summary of lang_confusion_docs' matrix."""
    from tabsdata_spark import stats
    from tabsdata_spark.llm import textual

    docs = fan_out(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    base = docs.select(F.col("lang").alias("a"),
                       textual.language_id(F.col("text")).alias("b"))
    return stats.cohens_kappa(base, "a", "b")


@q(
    "deterministic_shuffle_docs",
    f"""
    WITH h AS (
      SELECT doc_id,
             {_HASH60_SQL.format(v="CAST(doc_id AS VARCHAR) || ':7'")} AS hv
      FROM documents)
    SELECT doc_id, CAST(hv % 16 AS INTEGER) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY hv % 16
                                   ORDER BY hv, doc_id) AS BIGINT)
             AS rank_in_shard
    FROM h
    """,
)
def deterministic_shuffle_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible sharded corpus shuffle
    (llm/corpus.deterministic_shuffle, seed 7, 16 shards): keyed-hash
    shard + within-shard rank — per-shard windows, never a global
    sort; portable md5 hash for the oracle replay."""
    from tabsdata_spark.llm import corpus, textual

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id")
    return corpus.deterministic_shuffle(
        docs, "doc_id", seed=7, n_shards=16,
        hash_fn=textual.portable_hash60).select(
        "doc_id", "shard", "rank_in_shard")


@q(
    "time_decay_attribution_events",
    """
    WITH conv AS (
      SELECT user_id AS u, epoch_us(CAST(ts AS TIMESTAMP)) AS pts,
             event_id AS pid,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS vm
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
    tch AS (
      SELECT user_id AS u, epoch_us(CAST(ts AS TIMESTAMP)) AS tts,
             event_id AS tid, event_type AS touch_type
      FROM events WHERE event_type IN ('click', 'view')),
    pairs AS (
      SELECT touch_type, vm, pid, tts, tid,
             (1::BIGINT << (6 - ((pts - tts) // 86400000000))) AS w
      FROM tch JOIN conv ON tch.u = conv.u
       AND tts <= pts AND tts > pts - 604800000000),
    w1 AS (
      SELECT touch_type, pid, vm, w,
             SUM(w) OVER (PARTITION BY pid) AS tw,
             ROW_NUMBER() OVER (PARTITION BY pid
                                ORDER BY tts DESC, tid DESC) AS rn
      FROM pairs),
    wp AS (
      SELECT touch_type, vm, w, tw, rn,
             SUM((vm * w) // tw) OVER (PARTITION BY pid) AS bsum
      FROM w1),
    cr AS (
      SELECT touch_type, rn,
             (vm * w) // tw
             + CASE WHEN rn = 1 THEN vm - bsum ELSE 0 END AS credit
      FROM wp),
    pt AS (
      SELECT touch_type, COUNT(*) AS n_credits,
             SUM(CAST(credit AS DECIMAL(38,0))) AS cm,
             SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS nf
      FROM cr GROUP BY 1),
    tot AS (SELECT COUNT(*) AS np,
                   SUM(CAST(vm AS DECIMAL(38,0))) AS tm FROM conv),
    cs AS (SELECT SUM(cm) AS csum, SUM(nf) AS fsum FROM pt)
    SELECT touch_type, CAST(n_credits AS BIGINT) AS n_credits,
           CAST(cm AS DOUBLE) / 1e6 AS revenue
    FROM pt
    UNION ALL
    SELECT 'direct' AS touch_type,
           CAST(np - COALESCE(fsum, 0) AS BIGINT) AS n_credits,
           CAST(tm - COALESCE(csum, 0) AS DOUBLE) / 1e6 AS revenue
    FROM tot, cs
    """,
)
def time_decay_attribution_events(spark: SparkSession, sf_dir: str
                                  ) -> DataFrame:
    """Time-decay attribution (extensions.time_decay_attribution,
    1-day half-life over a 7-day lookback): weights are the exact
    integers 2^(6-k), credits are integer micros with the remainder
    pinned to the most recent touch — exact balance to the total."""
    from tabsdata_spark import extensions

    ev = load_events(spark, sf_dir).df
    return extensions.time_decay_attribution(
        ev, "user_id", "ts", "event_type", "value",
        conversion_type="purchase", touch_types=["click", "view"],
        lookback="7 days", half_life="1 day")


@q(
    "abc_customers",
    """
    WITH per AS (
      SELECT c_mktsegment AS seg, o_custkey AS k,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS v
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2),
    wn AS (
      SELECT seg, k, v,
             SUM(v) OVER (PARTITION BY seg ORDER BY v DESC, k
                          ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(v) OVER (PARTITION BY seg) AS tot
      FROM per),
    cl AS (
      SELECT seg, v, tot,
             CASE WHEN cum * 10 <= tot * 5 THEN 'A'
                  WHEN cum * 10 <= tot * 8 THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM wn)
    SELECT seg AS c_mktsegment, abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(v) AS DOUBLE) AS revenue,
           ROUND(CAST(SUM(v) AS DOUBLE) / CAST(MAX(tot) AS DOUBLE), 6)
             AS revenue_share
    FROM cl GROUP BY 1, 2
    """,
)
def abc_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC revenue concentration per market segment
    (extensions.abc_analysis): exact decimal cumulative shares with
    INTEGER cross-product class boundaries (no decimal division),
    rank tie-broken on the customer key."""
    from tabsdata_spark import extensions

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    base = (o.join(c, o["o_custkey"] == c["c_custkey"])
            .select("c_mktsegment", "o_custkey", "o_totalprice"))
    return extensions.abc_analysis(base, "c_mktsegment", "o_custkey",
                                   "o_totalprice")


@q(
    "burstiness_events",
    """
    WITH counts AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS b,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    m AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(c AS HUGEINT)) AS DOUBLE) AS s1,
             CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE) AS s2
      FROM counts GROUP BY 1)
    SELECT event_type, CAST(n AS BIGINT) AS n_buckets,
           ROUND(s1 / n, 6) AS mean_per_bucket,
           CASE WHEN n >= 2 AND s1 / n > 0.0
                     AND (s2 - s1 * s1 / n) / (n - 1.0) >= 0.0
                THEN ROUND(((s2 - s1 * s1 / n) / (n - 1.0)) / (s1 / n), 6)
           END AS fano,
           CASE WHEN n >= 2 AND s1 / n > 0.0
                     AND (s2 - s1 * s1 / n) / (n - 1.0) >= 0.0
                     AND SQRT((s2 - s1 * s1 / n) / (n - 1.0)) + s1 / n > 0.0
                THEN ROUND((SQRT((s2 - s1 * s1 / n) / (n - 1.0)) - s1 / n)
                           / (SQRT((s2 - s1 * s1 / n) / (n - 1.0))
                              + s1 / n), 6)
           END AS burstiness
    FROM m
    """,
)
def burstiness_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival burstiness per event type (stats.fano_factor over daily
    buckets): Fano factor var/mean and the bounded (sigma-mu)/(sigma+mu)
    score from exact integer bucket counts."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    base = ev.select("event_type", F.to_date("ts").alias("b"))
    return stats.fano_factor(base, ["event_type"], "b")


@q(
    "bloom_fpr_docs",
    rf"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         x -> x <> '') AS toks
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 5
                  THEN list_transform(range(1, len(toks) - 3),
                       i -> array_to_string(toks[i:i+4], ' '))
                  ELSE [array_to_string(toks, ' ')] END) AS grams
      FROM tok),
    bg AS (SELECT DISTINCT unnest(grams) AS gram FROM sh
           WHERE doc_id % 97 = 0),
    bench_pos AS (
      SELECT DISTINCT {_BLOOM_POS_SQL} AS pos
      FROM bg CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)),
    nbits AS (SELECT COUNT(*) AS bits FROM bench_pos),
    cg AS (SELECT DISTINCT unnest(grams) AS gram FROM sh
           WHERE doc_id % 97 <> 0),
    neg AS (SELECT gram FROM cg ANTI JOIN bg USING (gram)),
    neg_pos AS (
      SELECT gram, {_BLOOM_POS_SQL} AS pos
      FROM neg CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)),
    fp AS (
      SELECT gram
      FROM neg_pos JOIN bench_pos USING (pos)
      GROUP BY gram HAVING COUNT(*) = 3),
    agg AS (
      SELECT (SELECT bits FROM nbits) AS n_bits_set,
             (SELECT COUNT(*) FROM neg) AS n_neg_probes,
             (SELECT COUNT(*) FROM fp) AS n_false_pos)
    SELECT CAST(n_bits_set AS BIGINT) AS n_bits_set,
           CAST(n_neg_probes AS BIGINT) AS n_neg_probes,
           CAST(n_false_pos AS BIGINT) AS n_false_pos,
           ROUND(CAST(n_false_pos AS DOUBLE)
                 / CAST(n_neg_probes AS DOUBLE), 6) AS measured_fpr,
           ROUND(((CAST(n_bits_set AS DOUBLE) / 65536.0)
                  * (CAST(n_bits_set AS DOUBLE) / 65536.0))
                 * (CAST(n_bits_set AS DOUBLE) / 65536.0), 6)
             AS expected_fpr
    FROM agg
    """,
)
def bloom_fpr_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom false-positive-rate calibration
    (llm/decontam.bloom_fpr_report): the benchmark slice's 5-gram
    bitset probed with provably-absent corpus grams — measured FPR vs
    the (bits/m)^k load expectation, both exact/fixed-IEEE."""
    from tabsdata_spark.llm import decontam, textual

    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # fan_out only the probe (corpus) side's rows; the bitset-building
    # bench side derives from the un-fanned read so its lineage skips
    # the repartition shuffle (the bloom_decontaminate_docs pattern)
    bench = raw.filter(F.col("doc_id") % 97 == 0)
    corp = fan_out(raw.filter(F.col("doc_id") % 97 != 0))
    return decontam.bloom_fpr_report(corp, bench,
                                     hash_fn=textual.portable_hash60)


@q(
    "logrank_orders",
    """
    WITH fs AS (
      SELECT l_orderkey, MIN(l_shipdate) AS ship
      FROM lineitem GROUP BY 1),
    base AS (
      SELECT (o_orderpriority = '1-URGENT') AS grp,
             (epoch_us(CAST(ship AS TIMESTAMP))
              - epoch_us(CAST(o_orderdate AS TIMESTAMP))) // 86400000000
             AS days
      FROM orders JOIN fs ON o_orderkey = l_orderkey),
    obs AS (
      SELECT grp, LEAST(days, 60) AS t,
             CASE WHEN days <= 60 THEN 1 ELSE 0 END AS ev
      FROM base WHERE days >= 0),
    pts AS (
      SELECT t, SUM(ev) AS d,
             SUM(CASE WHEN grp THEN ev ELSE 0 END) AS d1,
             COUNT(*) AS m,
             SUM(CASE WHEN grp THEN 1 ELSE 0 END) AS m1
      FROM obs GROUP BY t),
    wn AS (
      SELECT t, d, d1,
             SUM(m) OVER () - SUM(m) OVER (ORDER BY t
               ROWS UNBOUNDED PRECEDING) + m AS n,
             SUM(m1) OVER () - SUM(m1) OVER (ORDER BY t
               ROWS UNBOUNDED PRECEDING) + m1 AS n1
      FROM pts),
    q AS (
      SELECT CAST(FLOOR((CAST(d1 AS DOUBLE)
                         - CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE)
                           / CAST(n AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
               AS oe,
             CAST(FLOOR(CASE WHEN n > 1
                  THEN CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE)
                       / CAST(n AS DOUBLE))
                       * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(n AS DOUBLE) - CAST(d AS DOUBLE))
                       / (CAST(n AS DOUBLE) - 1.0)
                  ELSE 0.0 END * 1e9 + 0.5) AS BIGINT) AS v
      FROM wn WHERE d > 0),
    agg AS (
      SELECT COUNT(*) AS n_times, SUM(oe) AS soe, SUM(v) AS sv FROM q)
    SELECT CAST(n_times AS BIGINT) AS n_times,
           ROUND(CAST(soe AS DOUBLE) / 1e9, 6) AS o_minus_e,
           ROUND(CAST(sv AS DOUBLE) / 1e9, 6) AS variance,
           CASE WHEN CAST(sv AS DOUBLE) / 1e9 > 0.0
                THEN ROUND((CAST(soe AS DOUBLE) / 1e9)
                           * (CAST(soe AS DOUBLE) / 1e9)
                           / (CAST(sv AS DOUBLE) / 1e9), 6)
           END AS chi2
    FROM agg
    """,
)
def logrank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Cox log-rank test (stats.logrank_test): do URGENT orders
    ship on a different survival curve?  O-E and hypergeometric
    variance terms quantized to 1e9 and summed exactly; the window
    runs over the TIME table (<= 61 rows), never raw rows."""
    from tabsdata_spark import stats

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    fs = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("ship"))
    days = F.expr("(unix_micros(cast(ship as timestamp))"
                  " - unix_micros(cast(o_orderdate as timestamp)))"
                  " div 86400000000")
    base = (o.join(fs, o["o_orderkey"] == fs["l_orderkey"])
            .filter(days >= 0)
            .select((F.col("o_orderpriority") == "1-URGENT").alias("grp"),
                    F.least(days, F.lit(60)).alias("t"),
                    (days <= 60).alias("ev")))
    return stats.logrank_test(base, "t", "ev", "grp")


@q(
    "script_ratio_docs",
    r"""
    WITH base AS (
      SELECT lang,
             len(regexp_extract_all(text, '\S')) AS ns,
             len(regexp_extract_all(text, '[A-Za-z]')) AS lat,
             len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS cjk,
             len(regexp_extract_all(text, '[0-9]')) AS dig
      FROM documents),
    quant AS (
      SELECT lang,
             CAST(FLOOR(lat * 1e6 / CAST(ns AS DOUBLE) + 0.5) AS BIGINT)
               AS l,
             CAST(FLOOR(cjk * 1e6 / CAST(ns AS DOUBLE) + 0.5) AS BIGINT)
               AS c,
             CAST(FLOOR(dig * 1e6 / CAST(ns AS DOUBLE) + 0.5) AS BIGINT)
               AS d
      FROM base WHERE ns > 0)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(l) AS DOUBLE) / 1e6 / COUNT(*), 6)
             AS latin_ratio,
           ROUND(CAST(SUM(c) AS DOUBLE) / 1e6 / COUNT(*), 6)
             AS cjk_ratio,
           ROUND(CAST(SUM(d) AS DOUBLE) / 1e6 / COUNT(*), 6)
             AS digit_ratio
    FROM quant GROUP BY lang
    """,
)
def script_ratio_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script composition per language
    (textual.script_ratio_report): mean Latin/CJK/digit ratios over
    non-space chars, micros-quantized per doc — the mislabel/mojibake
    sanity check."""
    from tabsdata_spark.llm import textual

    docs = fan_out(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return textual.script_ratio_report(docs)


@q(
    "bytes_per_token_docs",
    r"""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
           CAST(SUM(len(list_filter(
                regexp_split_to_array(trim(lower(text)), '\s+'),
                x -> x <> ''))) AS BIGINT) AS total_tokens,
           CASE WHEN SUM(len(list_filter(
                     regexp_split_to_array(trim(lower(text)), '\s+'),
                     x -> x <> ''))) > 0
                THEN ROUND(CAST(SUM(strlen(text)) AS DOUBLE)
                           / CAST(SUM(len(list_filter(
                               regexp_split_to_array(trim(lower(text)),
                                                     '\s+'),
                               x -> x <> ''))) AS DOUBLE), 6)
           END AS bytes_per_token
    FROM documents GROUP BY lang
    """,
)
def bytes_per_token_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bytes-per-token by language (textual.bytes_per_token_report):
    UTF-8 bytes over whitespace tokens — the tokenizer-cost planning
    ratio, exact integer sums."""
    from tabsdata_spark.llm import textual

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textual.bytes_per_token_report(docs)


@q(
    "reciprocal_nn_emb",
    """
    WITH vs AS (SELECT vec_id, embedding FROM embeddings
                WHERE vec_id < 200),
    sc AS (
      SELECT a.vec_id AS qid, b.vec_id AS cid,
             list_cosine_similarity(b.embedding::DOUBLE[],
                                    a.embedding::DOUBLE[]) AS sim
      FROM vs a JOIN vs b ON a.vec_id <> b.vec_id),
    rk AS (
      SELECT qid, cid, sim,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY sim DESC, cid) AS r
      FROM sc),
    top AS (SELECT * FROM rk WHERE r <= 5)
    SELECT a.qid AS a_id, a.cid AS b_id,
           CAST(a.r AS INTEGER) AS rank_ab,
           CAST(b.r AS INTEGER) AS rank_ba,
           ROUND(a.sim, 6) AS cosine
    FROM top a JOIN top b ON a.qid = b.cid AND a.cid = b.qid
    WHERE a.qid < a.cid
    """,
)
def reciprocal_nn_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal nearest-neighbor pairs (similarity.reciprocal_nn,
    k=5) within the first 200 vectors — mutual-top-k seed pairs for
    semantic dedup; ranking is the embed_topk contract."""
    from tabsdata_spark.llm import similarity

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .filter(F.col("vec_id") < 200))
    return similarity.reciprocal_nn(emb, k=5)


_DPS_HASH = _HASH60_SQL.format(v="event_type")


@q(
    "dp_noisy_revenue_events",
    f"""
    WITH base AS (
      SELECT event_type,
             LEAST(GREATEST(CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT), 0),
                   100000000) AS vm
      FROM events WHERE value IS NOT NULL),
    agg AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(CAST(vm AS DECIMAL(38,0))) AS s
      FROM base GROUP BY 1),
    h AS (
      SELECT event_type, n, s,
             {_ladder_sql(_DPS_HASH, GEOM_HALF_T, list(range(-4, 5)))} AS noise
      FROM agg WHERE n >= 10)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           ROUND(CAST(s AS DOUBLE) / 1e6, 6) AS clipped_sum,
           ROUND(GREATEST(CAST(s AS DOUBLE) / 1e6
                          + noise * 100000000.0 / 1e6, 0.0), 6)
             AS noisy_sum
    FROM h
    """,
)
def dp_noisy_revenue_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private per-type revenue release
    (stats.dp_noisy_sum, clip 100.0): values clip to the sensitivity
    bound, sums are exact decimal micros, and the deterministic
    geometric ladder scales by the clip — the DP-sum companion to
    dp_noisy_counts_events."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    base = (ev.filter(F.col("value").isNotNull())
            .select("event_type", "value"))
    return stats.dp_noisy_sum(base, ["event_type"], "value",
                              clip=100.0, k_min=10)


@q(
    "ppr_suppliers",
    """
    WITH e0 AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS u,
                      's' || CAST(l_suppkey AS VARCHAR) AS v
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    und AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
    deg AS (SELECT u, COUNT(*) AS deg,
                   (u LIKE 's%') AS seed
            FROM und GROUP BY u),
    ns AS (SELECT COUNT(*) AS n FROM deg WHERE seed),
    p0 AS (SELECT u AS node, deg, seed,
                  CASE WHEN seed THEN CAST(1.0 AS DOUBLE) / (SELECT n FROM ns)
                       ELSE CAST(0.0 AS DOUBLE) END AS pr
           FROM deg),
    s1 AS (SELECT und.v AS node,
                  SUM(CAST(FLOOR(p.pr / p.deg * 1e12 + 0.5) AS HUGEINT)) AS s
           FROM und JOIN p0 p ON und.u = p.node GROUP BY 1),
    p1 AS (SELECT d.u AS node, d.deg, d.seed,
                  CASE WHEN d.seed
                       THEN (1.0 - 0.85) / (SELECT n FROM ns)
                       ELSE 0.0 END
                  + 0.85 * (CAST(COALESCE(s.s, 0) AS DOUBLE) / 1e12) AS pr
           FROM deg d LEFT JOIN s1 s ON d.u = s.node),
    s2 AS (SELECT und.v AS node,
                  SUM(CAST(FLOOR(p.pr / p.deg * 1e12 + 0.5) AS HUGEINT)) AS s
           FROM und JOIN p1 p ON und.u = p.node GROUP BY 1),
    p2 AS (SELECT d.u AS node, d.deg, d.seed,
                  CASE WHEN d.seed
                       THEN (1.0 - 0.85) / (SELECT n FROM ns)
                       ELSE 0.0 END
                  + 0.85 * (CAST(COALESCE(s.s, 0) AS DOUBLE) / 1e12) AS pr
           FROM deg d LEFT JOIN s2 s ON d.u = s.node)
    SELECT node, ROUND(pr, 9) AS ppr FROM p2
    """,
)
def ppr_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (graph.ppr_exact, 2 iterations) with the
    supplier nodes as the teleport set — supplier-centric influence
    over the customer-supplier trade graph; picos-quantized decimal
    mass sums replay bit-for-bit in the oracle's unrolled CTEs."""
    from tabsdata_spark import graph

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    edges = _cust_supp_edges(o, li, "src", "dst")
    # seed set = the graph's supplier nodes.  Derived from lineitem alone
    # (no orders join): every lineitem row joins exactly one order
    # (l_orderkey FK), so distinct l_suppkey over lineitem == distinct
    # dst over the joined edge list; ppr_exact intersects seeds with the
    # graph's node set anyway, so membership is all that matters.
    seeds = li.select((F.col("l_suppkey").cast("long") * 2 + 1)
                      .alias("node")).distinct()
    out = graph.ppr_exact(edges, "src", "dst", seeds, "node",
                          iters=2, damping=0.85)
    return _unmap_graph_nodes(out)


@q(
    "ks_test_events",
    """
    WITH base AS (
      SELECT CAST(FLOOR(value) AS BIGINT) AS b,
             (user_id % 2 = 0) AS c
      FROM events WHERE value IS NOT NULL),
    pts AS (
      SELECT b, SUM(CASE WHEN c THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN c THEN 0 ELSE 1 END) AS c2
      FROM base GROUP BY b),
    cum AS (
      SELECT SUM(c1) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS k1,
             SUM(c2) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS k2,
             SUM(c1) OVER () AS n1, SUM(c2) OVER () AS n2
      FROM pts),
    agg AS (
      SELECT MAX(ABS(CAST(k1 AS DECIMAL(38,0)) * n2
                     - CAST(k2 AS DECIMAL(38,0)) * n1)) AS d,
             MAX(n1) AS n_1, MAX(n2) AS n_2
      FROM cum)
    SELECT CAST(n_1 AS BIGINT) AS n_1, CAST(n_2 AS BIGINT) AS n_2,
           CASE WHEN n_1 > 0 AND n_2 > 0
                THEN ROUND(CAST(d AS DOUBLE)
                           / (CAST(n_1 AS DOUBLE) * CAST(n_2 AS DOUBLE)),
                           6)
           END AS ks_d
    FROM agg
    """,
)
def ks_test_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance (stats.ks_test) between
    even and odd users' value distributions, bucketed to whole units
    so the ECDF scan is bucket-bounded; |cum1*n2 - cum2*n1| keeps the
    max in exact integers."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    base = (ev.filter(F.col("value").isNotNull())
            .select(F.floor(F.col("value")).cast("bigint").alias("b"),
                    (F.col("user_id") % 2 == 0).alias("c")))
    return stats.ks_test(base, "b", "c")


@q(
    "two_proportion_events",
    """
    WITH base AS (
      SELECT event_type, (user_id % 2 = 0) AS c,
             CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS s
      FROM events WHERE value IS NOT NULL),
    agg AS (
      SELECT event_type,
             SUM(CASE WHEN c THEN 1 ELSE 0 END) AS n_1,
             SUM(CASE WHEN c THEN s ELSE 0 END) AS s_1,
             SUM(CASE WHEN NOT c THEN 1 ELSE 0 END) AS n_2,
             SUM(CASE WHEN NOT c THEN s ELSE 0 END) AS s_2
      FROM base GROUP BY 1)
    SELECT event_type,
           CAST(n_1 AS BIGINT) AS n_1, CAST(n_2 AS BIGINT) AS n_2,
           ROUND(CAST(s_1 AS DOUBLE) / CAST(n_1 AS DOUBLE), 6) AS rate_1,
           ROUND(CAST(s_2 AS DOUBLE) / CAST(n_2 AS DOUBLE), 6) AS rate_2,
           CASE WHEN n_1 > 0 AND n_2 > 0
                     AND (CAST(s_1 AS DOUBLE) + CAST(s_2 AS DOUBLE))
                         / (CAST(n_1 AS DOUBLE) + CAST(n_2 AS DOUBLE))
                         * (1.0 - (CAST(s_1 AS DOUBLE)
                                   + CAST(s_2 AS DOUBLE))
                            / (CAST(n_1 AS DOUBLE) + CAST(n_2 AS DOUBLE)))
                         * (1.0 / CAST(n_1 AS DOUBLE)
                            + 1.0 / CAST(n_2 AS DOUBLE)) > 0.0
                THEN ROUND((CAST(s_1 AS DOUBLE) / CAST(n_1 AS DOUBLE)
                            - CAST(s_2 AS DOUBLE) / CAST(n_2 AS DOUBLE))
                           / SQRT((CAST(s_1 AS DOUBLE)
                                   + CAST(s_2 AS DOUBLE))
                                  / (CAST(n_1 AS DOUBLE)
                                     + CAST(n_2 AS DOUBLE))
                                  * (1.0 - (CAST(s_1 AS DOUBLE)
                                            + CAST(s_2 AS DOUBLE))
                                     / (CAST(n_1 AS DOUBLE)
                                        + CAST(n_2 AS DOUBLE)))
                                  * (1.0 / CAST(n_1 AS DOUBLE)
                                     + 1.0 / CAST(n_2 AS DOUBLE))), 6)
           END AS z
    FROM agg
    """,
)
def two_proportion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test per event type (stats.two_proportion_ztest):
    does the high-value rate (value > 50) differ between even and odd
    users?  Exact integer counts, one fixed IEEE expression."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    base = (ev.filter(F.col("value").isNotNull())
            .select("event_type", (F.col("user_id") % 2 == 0).alias("c"),
                    (F.col("value") > 50.0).alias("s")))
    return stats.two_proportion_ztest(base, "s", "c", ["event_type"])


@q(
    "mahalanobis_events",
    """
    WITH base AS (
      SELECT event_type,
             CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS x1,
             CAST(EXTRACT(HOUR FROM CAST(ts AS TIMESTAMP)) AS BIGINT)
               AS x2
      FROM events WHERE value IS NOT NULL),
    mom AS (
      SELECT event_type, COUNT(*) AS mn,
             CAST(SUM(CAST(x1 AS HUGEINT)) AS DOUBLE) AS s1,
             CAST(SUM(CAST(x2 AS HUGEINT)) AS DOUBLE) AS s2,
             CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS DOUBLE) AS s11,
             CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS DOUBLE) AS s22,
             CAST(SUM(CAST(x1 AS HUGEINT) * x2) AS DOUBLE) AS s12
      FROM base GROUP BY 1),
    model AS (
      SELECT event_type, mn,
             s1 / mn AS mu1, s2 / mn AS mu2,
             (s11 - s1 * s1 / mn) / (mn - 1.0) AS v11,
             (s22 - s2 * s2 / mn) / (mn - 1.0) AS v22,
             (s12 - s1 * s2 / mn) / (mn - 1.0) AS v12,
             (s11 - s1 * s1 / mn) / (mn - 1.0)
               * ((s22 - s2 * s2 / mn) / (mn - 1.0))
               - ((s12 - s1 * s2 / mn) / (mn - 1.0))
                 * ((s12 - s1 * s2 / mn) / (mn - 1.0)) AS det
      FROM mom),
    scored AS (
      SELECT b.event_type,
             (m.mn >= 3 AND m.det > 0.0) AS ok,
             (m.v22 * (b.x1 - m.mu1) * (b.x1 - m.mu1)
              - 2.0 * m.v12 * (b.x1 - m.mu1) * (b.x2 - m.mu2)
              + m.v11 * (b.x2 - m.mu2) * (b.x2 - m.mu2)) / m.det AS d2
      FROM base b JOIN model m ON b.event_type = m.event_type)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN ok AND d2 > 9.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           MAX(CASE WHEN ok THEN ROUND(d2, 6) END) AS max_d2
    FROM scored GROUP BY event_type
    """,
)
def mahalanobis_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate Mahalanobis outlier report per event type
    (stats.mahalanobis_outliers) over (value millis, hour of day):
    exact decimal moment matrix, fixed-IEEE 2x2 inverse, outliers at
    d2 > 9 — the correlation-aware complement to rolling z-scores."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    base = (ev.filter(F.col("value").isNotNull())
            .select("event_type",
                    F.floor(F.col("value") * 1000 + F.lit(0.5))
                    .cast("bigint").alias("x1"),
                    F.hour("ts").cast("bigint").alias("x2")))
    return stats.mahalanobis_outliers(base, "x1", "x2", ["event_type"],
                                      threshold=9.0)


@q(
    "corpus_summary_docs",
    r"""
    WITH base AS (
      SELECT text, lang, source,
             len(list_filter(regexp_split_to_array(trim(lower(text)),
                                                   '\s+'), x -> x <> ''))
               AS tk,
             strlen(text) AS by
      FROM documents),
    agg AS (
      SELECT COUNT(*) AS n_docs,
             COUNT(DISTINCT md5(text)) AS uniq,
             COUNT(DISTINCT lang) AS n_langs,
             COUNT(DISTINCT source) AS n_sources,
             SUM(by) AS total_bytes,
             SUM(tk) AS total_tokens,
             SUM(CASE WHEN tk = 0 THEN 1 ELSE 0 END) AS n_empty
      FROM base)
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_langs AS BIGINT) AS n_langs,
           CAST(n_sources AS BIGINT) AS n_sources,
           CAST(total_bytes AS BIGINT) AS total_bytes,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           CAST(n_empty AS BIGINT) AS n_empty,
           ROUND(CAST(n_docs - uniq AS DOUBLE) / CAST(n_docs AS DOUBLE),
                 6) AS dup_rate,
           ROUND(CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE),
                 6) AS mean_tokens,
           ROUND(CAST(total_bytes AS DOUBLE)
                 / CAST(total_tokens AS DOUBLE), 6) AS bytes_per_token
    FROM agg
    """,
)
def corpus_summary_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus datasheet (llm/corpus.corpus_summary): totals,
    cardinalities, exact-dup rate, token/byte means — ONE scan, one
    single-row aggregate."""
    from tabsdata_spark.llm import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.corpus_summary(docs)


@q(
    "revenue_waterfall_orders",
    """
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS gross,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS discount_amt,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS net,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    * CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS tax_amt,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE)
             AS charged
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def revenue_waterfall_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue waterfall per market segment: gross -> discount -> net
    -> tax -> charged, every stage an exact DECIMAL(18,2) sum (the
    money contract) over one 3-way join — the classic finance
    decomposition readout."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    dec = "decimal(18,2)"
    j = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
         .join(c, o["o_custkey"] == c["c_custkey"]))
    return (j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(F.col("l_extendedprice").cast(dec)).cast("double")
        .alias("gross"),
        F.sum(F.col("l_extendedprice").cast(dec)
              * F.col("l_discount").cast(dec))
        .cast("double").alias("discount_amt"),
        F.sum(F.col("l_extendedprice").cast(dec)
              * (1 - F.col("l_discount").cast(dec)))
        .cast("double").alias("net"),
        F.sum(F.col("l_extendedprice").cast(dec)
              * (1 - F.col("l_discount").cast(dec))
              * F.col("l_tax").cast(dec)).cast("double").alias("tax_amt"),
        F.sum(F.col("l_extendedprice").cast(dec)
              * (1 - F.col("l_discount").cast(dec))
              * (1 + F.col("l_tax").cast(dec))).cast("double")
        .alias("charged")))


@q(
    "resample_interpolate_events",
    """
    WITH daily AS (
      SELECT event_type,
             epoch_us(CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE)
                           AS TIMESTAMP)) // 86400000000 AS b,
             COUNT(*) AS y
      FROM events WHERE event_type IN ('purchase', 'error')
        AND (epoch_us(CAST(ts AS TIMESTAMP)) // 1000000) % 3 = 0
      GROUP BY 1, 2),
    base AS (
      SELECT event_type, b, y * 1000000 AS vm,
             LEAD(b) OVER (PARTITION BY event_type ORDER BY b) AS nb,
             LEAD(y * 1000000) OVER (PARTITION BY event_type ORDER BY b)
               AS nv
      FROM daily),
    ex AS (
      SELECT event_type, b, vm, nb, nv,
             unnest(CASE WHEN nb IS NOT NULL
                         THEN range(0, CAST(nb - b AS INTEGER))
                         ELSE [CAST(0 AS BIGINT)] END) AS s
      FROM base)
    SELECT event_type, CAST(b + s AS BIGINT) AS b,
           (s > 0) AS interpolated,
           CAST(CASE WHEN s = 0 THEN vm
                ELSE CAST(FLOOR(vm + CAST(nv - vm AS DOUBLE) * s
                                / CAST(nb - b AS DOUBLE) + 0.5) AS BIGINT)
           END AS DOUBLE) / 1e6 AS y
    FROM ex
    """,
)
def resample_interpolate_events(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Linear gap interpolation (extensions.resample_interpolate) over
    a deliberately sparsified daily count series (epoch-second % 3
    keeps ~1/3 of events, leaving day gaps): micros-exact interpolants
    between observed buckets, leading/trailing gaps stay absent —
    the linear companion to resample_ffill."""
    from tabsdata_spark import extensions

    ev = load_events(spark, sf_dir).df
    day = F.expr("unix_micros(cast(to_date(ts) as timestamp))"
                 " div 86400000000")
    daily = (ev.filter(F.col("event_type").isin("purchase", "error")
                       & (F.expr("unix_micros(ts) div 1000000") % 3 == 0))
             .groupBy("event_type", day.alias("b"))
             .agg(F.count(F.lit(1)).alias("y")))
    return extensions.resample_interpolate(daily, "event_type", "b", "y")


@q(
    "gini_mean_diff_events",
    """
    WITH base AS (
      SELECT event_type,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL),
    rk AS (
      SELECT event_type, x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x) AS i,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM base),
    agg AS (
      SELECT event_type, MAX(n) AS n,
             SUM(CAST(2 * i - n - 1 AS DECIMAL(38,0))
                 * CAST(x AS DECIMAL(38,0))) AS s,
             SUM(CAST(x AS DECIMAL(38,0))) AS sx
      FROM rk GROUP BY event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CASE WHEN n >= 2
                THEN ROUND(2.0 * CAST(s AS DOUBLE)
                           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
                           / 1e6, 6)
           END AS gmd,
           CASE WHEN n >= 2 AND CAST(sx AS DOUBLE) / n > 0.0
                THEN ROUND(2.0 * CAST(s AS DOUBLE)
                           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
                           / (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6)
           END AS relative_gmd
    FROM agg
    """,
)
def gini_mean_diff_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini mean difference per event type (stats.gini_mean_difference):
    mean absolute pairwise value gap via the sorted-rank identity —
    one rank window per group partition, never O(n^2) pairs; weighted
    sums exact in decimal(38,0)."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    base = (ev.filter(F.col("value").isNotNull())
            .select("event_type",
                    F.floor(F.col("value") * 1e6 + F.lit(0.5))
                    .cast("bigint").alias("x")))
    return stats.gini_mean_difference(base, "x", ["event_type"])


@q(
    "rolling_corr_events",
    """
    WITH daily AS (
      SELECT event_type,
             epoch_us(CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE)
                           AS TIMESTAMP)) // 86400000000 AS t,
             COUNT(*) AS y
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1, 2),
    xy AS (
      SELECT a.t, a.y AS x, b.y AS y
      FROM (SELECT t, y FROM daily WHERE event_type = 'click') a
      JOIN (SELECT t, y FROM daily WHERE event_type = 'purchase') b
        ON a.t = b.t),
    cums AS (
      SELECT t,
             SUM(CAST(x AS DECIMAL(38,0))) OVER w AS cx,
             SUM(CAST(y AS DECIMAL(38,0))) OVER w AS cy,
             SUM(CAST(x AS DECIMAL(38,0)) * y) OVER w AS cxy,
             SUM(CAST(x AS DECIMAL(38,0)) * x) OVER w AS cxx,
             SUM(CAST(y AS DECIMAL(38,0)) * y) OVER w AS cyy,
             ROW_NUMBER() OVER (ORDER BY t) AS rn
      FROM xy
      WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING)),
    wins AS (
      SELECT c.t,
             c.cx - COALESCE(l.cx, 0) AS wx,
             c.cy - COALESCE(l.cy, 0) AS wy,
             c.cxy - COALESCE(l.cxy, 0) AS wxy,
             c.cxx - COALESCE(l.cxx, 0) AS wxx,
             c.cyy - COALESCE(l.cyy, 0) AS wyy,
             LEAST(c.rn, 7) AS n
      FROM cums c LEFT JOIN cums l ON l.rn = c.rn - 7)
    SELECT CAST(t AS BIGINT) AS t, CAST(n AS BIGINT) AS n_window,
           CASE WHEN n >= 3
                     AND CAST(n AS DOUBLE) * CAST(wxx AS DOUBLE)
                         - CAST(wx AS DOUBLE) * CAST(wx AS DOUBLE) > 0.0
                     AND CAST(n AS DOUBLE) * CAST(wyy AS DOUBLE)
                         - CAST(wy AS DOUBLE) * CAST(wy AS DOUBLE) > 0.0
                THEN ROUND((CAST(n AS DOUBLE) * CAST(wxy AS DOUBLE)
                            - CAST(wx AS DOUBLE) * CAST(wy AS DOUBLE))
                           / SQRT((CAST(n AS DOUBLE) * CAST(wxx AS DOUBLE)
                                   - CAST(wx AS DOUBLE)
                                     * CAST(wx AS DOUBLE))
                                  * (CAST(n AS DOUBLE)
                                     * CAST(wyy AS DOUBLE)
                                     - CAST(wy AS DOUBLE)
                                       * CAST(wy AS DOUBLE))), 6)
           END AS r
    FROM wins
    """,
)
def rolling_corr_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day correlation between daily click and purchase
    counts (stats.rolling_correlation): cumulative-difference decimal
    cross-moments (the rolling_zscore O(1)/row lesson), window over
    the bounded daily grid only."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    day = F.expr("unix_micros(cast(to_date(ts) as timestamp))"
                 " div 86400000000")
    daily = (ev.filter(F.col("event_type").isin("click", "purchase"))
             .groupBy("event_type", day.alias("t"))
             .agg(F.count(F.lit(1)).alias("y")))
    xs = daily.filter(F.col("event_type") == "click") \
        .select("t", F.col("y").alias("x"))
    ys = daily.filter(F.col("event_type") == "purchase").select(
        F.col("t").alias("t2"), "y")
    xy = xs.join(ys, xs["t"] == ys["t2"]).select("t", "x", "y")
    return stats.rolling_correlation(xy, "t", "x", "y", window=7)


_DAILY_XY_SQL = """
    WITH daily AS (
      SELECT event_type,
             epoch_us(CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE)
                           AS TIMESTAMP)) // 86400000000 AS t,
             COUNT(*) AS y
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1, 2),
    xy AS (
      SELECT a.t, a.y AS x, b.y AS y
      FROM (SELECT t, y FROM daily WHERE event_type = 'click') a
      JOIN (SELECT t, y FROM daily WHERE event_type = 'purchase') b
        ON a.t = b.t)
"""


def _daily_xy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily click-vs-purchase count grid shared by the correlation
    family (rolling_corr / spearman / kendall): bounded by calendar
    days at any scale."""
    ev = load_events(spark, sf_dir).df
    day = F.expr("unix_micros(cast(to_date(ts) as timestamp))"
                 " div 86400000000")
    daily = (ev.filter(F.col("event_type").isin("click", "purchase"))
             .groupBy("event_type", day.alias("t"))
             .agg(F.count(F.lit(1)).alias("y")))
    xs = daily.filter(F.col("event_type") == "click") \
        .select("t", F.col("y").alias("x"))
    ys = daily.filter(F.col("event_type") == "purchase").select(
        F.col("t").alias("t2"), "y")
    return xs.join(ys, xs["t"] == ys["t2"]).select("t", "x", "y")


@q(
    "spearman_daily_events",
    _DAILY_XY_SQL + """,
    xyc AS (SELECT x, y FROM xy
            WHERE x IS NOT NULL AND y IS NOT NULL),
    rx AS (SELECT x AS v, COUNT(*) AS c FROM xyc GROUP BY 1),
    rx2 AS (SELECT v, CAST(2 * (SUM(c) OVER (ORDER BY v
                                             ROWS UNBOUNDED PRECEDING) - c)
                           + c + 1 AS BIGINT) AS dr
            FROM rx),
    ry AS (SELECT y AS v, COUNT(*) AS c FROM xyc GROUP BY 1),
    ry2 AS (SELECT v, CAST(2 * (SUM(c) OVER (ORDER BY v
                                             ROWS UNBOUNDED PRECEDING) - c)
                           + c + 1 AS BIGINT) AS dr
            FROM ry),
    j AS (SELECT a.dr AS drx, b.dr AS dry
          FROM xyc JOIN rx2 a ON xyc.x = a.v JOIN ry2 b ON xyc.y = b.v),
    m AS (SELECT COUNT(*) AS n,
                 SUM(CAST(drx AS DECIMAL(38,0))) AS sx,
                 SUM(CAST(dry AS DECIMAL(38,0))) AS sy,
                 SUM(CAST(drx AS DECIMAL(38,0)) * dry) AS sxy,
                 SUM(CAST(drx AS DECIMAL(38,0)) * drx) AS sxx,
                 SUM(CAST(dry AS DECIMAL(38,0)) * dry) AS syy
          FROM j)
    SELECT CAST(n AS BIGINT) AS n,
           CASE WHEN n >= 3
                     AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
                     AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0
                THEN ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE)
                                     * CAST(sx AS DOUBLE))
                                  * (CAST(n AS DOUBLE)
                                     * CAST(syy AS DOUBLE)
                                     - CAST(sy AS DOUBLE)
                                       * CAST(sy AS DOUBLE))), 6)
           END AS rho
    FROM m
    """,
)
def spearman_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (stats.spearman_correlation) between
    daily click and purchase volumes: average ranks from
    distinct-value tables (no row sort), exact integer double-ranks,
    decimal moment sums."""
    from tabsdata_spark import stats

    return stats.spearman_correlation(_daily_xy(spark, sf_dir), "x", "y")


@q(
    "kendall_daily_events",
    _DAILY_XY_SQL + """,
    p AS (SELECT SUM(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0
                          THEN 1 ELSE 0 END) AS c,
                 SUM(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0
                          THEN 1 ELSE 0 END) AS d
          FROM xy a JOIN xy b ON a.t < b.t),
    tx AS (SELECT SUM(c * (c - 1) // 2) AS t, SUM(c) AS n
           FROM (SELECT COUNT(*) AS c FROM xy GROUP BY x)),
    ty AS (SELECT SUM(c * (c - 1) // 2) AS t
           FROM (SELECT COUNT(*) AS c FROM xy GROUP BY y))
    SELECT CAST(tx.n AS BIGINT) AS n,
           CAST(p.c AS BIGINT) AS n_conc,
           CAST(p.d AS BIGINT) AS n_disc,
           CASE WHEN CAST(tx.n * (tx.n - 1) // 2 - tx.t AS DOUBLE) > 0.0
                     AND CAST(tx.n * (tx.n - 1) // 2 - ty.t AS DOUBLE) > 0.0
                THEN ROUND((CAST(p.c AS DOUBLE) - CAST(p.d AS DOUBLE))
                           / SQRT(CAST(tx.n * (tx.n - 1) // 2 - tx.t
                                       AS DOUBLE)
                                  * CAST(tx.n * (tx.n - 1) // 2 - ty.t
                                         AS DOUBLE)), 6)
           END AS tau_b
    FROM p, tx, ty
    """,
)
def kendall_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b (stats.kendall_tau) between daily click and
    purchase volumes — the pairwise enumeration runs over the
    calendar-day grid only (bounded-grid contract), broadcast
    nested-loop, never a shuffled cartesian."""
    from tabsdata_spark import stats

    return stats.kendall_tau(_daily_xy(spark, sf_dir), "t", "x", "y")


@q(
    "weighted_median_lineitem",
    """
    WITH g AS (
      SELECT l_returnflag, CAST(TRUNC(l_quantity) AS BIGINT) AS v,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS w
      FROM lineitem GROUP BY 1, 2),
    c AS (
      SELECT l_returnflag, v,
             SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                          ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tw
      FROM g)
    SELECT l_returnflag, CAST(MIN(v) AS BIGINT) AS w_median,
           ROUND(CAST(MAX(tw) AS DOUBLE), 2) AS total_weight
    FROM c WHERE cw * 2 >= tw GROUP BY l_returnflag
    """,
)
def weighted_median_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted median order quantity per return flag
    (stats.weighted_median): lower weighted median over the bounded
    (flag, quantity) grid with exact decimal cumulative weights."""
    from tabsdata_spark import stats

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("v"),
        "l_extendedprice")
    return stats.weighted_median(li, "v", "l_extendedprice",
                                 ["l_returnflag"])


@q(
    "wilson_ci_events",
    """
    WITH base AS (
      SELECT event_type, CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS sc
      FROM events WHERE value IS NOT NULL),
    agg AS (SELECT event_type, COUNT(*) AS n, SUM(sc) AS s
            FROM base GROUP BY 1)
    SELECT event_type, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS s,
           ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
           ROUND(GREATEST(
             (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
              + 3.8415999999999997 / (2.0 * CAST(n AS DOUBLE)))
             / (1.0 + 3.8415999999999997 / CAST(n AS DOUBLE))
             - (1.96 * SQRT((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                             * (1.0 - CAST(s AS DOUBLE)
                                      / CAST(n AS DOUBLE))
                             + 3.8415999999999997
                               / (4.0 * CAST(n AS DOUBLE)))
                            / CAST(n AS DOUBLE)))
               / (1.0 + 3.8415999999999997 / CAST(n AS DOUBLE)),
             0.0), 6) AS wilson_lo,
           ROUND(LEAST(
             (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
              + 3.8415999999999997 / (2.0 * CAST(n AS DOUBLE)))
             / (1.0 + 3.8415999999999997 / CAST(n AS DOUBLE))
             + (1.96 * SQRT((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                             * (1.0 - CAST(s AS DOUBLE)
                                      / CAST(n AS DOUBLE))
                             + 3.8415999999999997
                               / (4.0 * CAST(n AS DOUBLE)))
                            / CAST(n AS DOUBLE)))
               / (1.0 + 3.8415999999999997 / CAST(n AS DOUBLE)),
             1.0), 6) AS wilson_hi
    FROM agg
    """,
)
def wilson_ci_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Wilson 95% score interval for the value>50
    conversion rate (stats.wilson_interval) — z*z folded to one
    double literal shared verbatim with the oracle."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    base = (ev.filter(F.col("value").isNotNull())
            .select("event_type",
                    (F.col("value") > 50.0).cast("int").alias("sc")))
    return stats.wilson_interval(base, "sc", ["event_type"])


@q(
    "mcnemar_gates_docs",
    """
    WITH toks AS (
      SELECT doc_id, lang = 'en' AS lang_ok, unnest(
        list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                    x -> x <> '')) AS tok
      FROM documents),
    per_tok AS (
      SELECT doc_id, lang_ok, tok, COUNT(*) AS c
      FROM toks GROUP BY doc_id, lang_ok, tok),
    c4s AS (
      SELECT doc_id, lang_ok, CAST(SUM(c) AS BIGINT) AS n_tokens,
             MAX(c) AS top_c
      FROM per_tok GROUP BY doc_id, lang_ok),
    c4 AS (
      SELECT doc_id,
             lang_ok AND (n_tokens BETWEEN 30 AND 400)
               AND (ROUND(top_c / CAST(n_tokens AS DOUBLE), 6) <= 0.15)
               AS a
      FROM c4s),
    gt AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents),
    gop AS (
      SELECT doc_id,
             (len(toks) BETWEEN 50 AND 100000)
             AND (CASE WHEN len(toks) > 0 THEN ROUND(
                    CAST(list_sum(list_transform(toks, t -> len(t)))
                         AS DOUBLE) / len(toks), 6)
                  ELSE 0.0 END BETWEEN 3.0 AND 10.0)
             AND (CASE WHEN len(toks) > 0 THEN ROUND(
                    CAST(len(list_filter(toks,
                             t -> regexp_matches(t, '[a-z]')))
                         AS DOUBLE) / len(toks), 6)
                  ELSE 0.0 END >= 0.8)
             AND (len(list_filter(toks, t -> list_contains(
                    ['the','be','to','of','and','that','have','with'], t)))
                  >= 2) AS b
      FROM gt),
    j AS (SELECT a, b FROM c4 JOIN gop USING (doc_id))
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT)
             AS n_both,
           CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
             AS n_a_only,
           CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT)
             AS n_b_only,
           CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
             AS n_neither,
           CASE WHEN SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
                     + SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) > 0
                THEN ROUND(
                  (CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
                        AS DOUBLE)
                   - CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
                          AS DOUBLE))
                  * (CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
                          AS DOUBLE)
                     - CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
                            AS DOUBLE))
                  / (CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
                          AS DOUBLE)
                     + CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
                            AS DOUBLE)), 6)
           END AS chi2
    FROM j
    """,
)
def mcnemar_gates_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test (stats.mcnemar_test) between the C4
    composite gate and the Gopher rules gate over the same corpus —
    do the two filters disagree systematically, and in which
    direction?"""
    from tabsdata_spark import stats
    from tabsdata_spark.llm import textual as tx

    docs = fan_out(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    c4 = tx.composite_quality_filter(docs).select(
        "doc_id", F.col("keep").alias("a"))
    gop = tx.gopher_quality_rules(docs).select(
        "doc_id", F.col("keep").alias("b"))
    return stats.mcnemar_test(c4.join(gop, "doc_id"), "a", "b")


@q(
    "t_closeness_events",
    """
    WITH base AS (
      SELECT event_type,
             LEAST(CAST(TRUNC(value / 50.0) AS BIGINT), 7) AS b
      FROM events WHERE value IS NOT NULL),
    g AS (SELECT b, COUNT(*) AS gc FROM base GROUP BY 1),
    cls AS (SELECT event_type, COUNT(*) AS n FROM base GROUP BY 1),
    cells AS (SELECT event_type, b, COUNT(*) AS c FROM base GROUP BY 1, 2),
    grid AS (SELECT event_type, n, g.b, g.gc FROM cls CROSS JOIN g),
    dense AS (
      SELECT grid.event_type, grid.b, grid.n, grid.gc,
             COALESCE(cells.c, 0) AS c
      FROM grid LEFT JOIN cells ON grid.event_type = cells.event_type
                                AND grid.b = cells.b),
    cum AS (
      SELECT event_type, n,
             SUM(c) OVER (PARTITION BY event_type ORDER BY b
                          ROWS UNBOUNDED PRECEDING) AS cc,
             SUM(gc) OVER (PARTITION BY event_type ORDER BY b
                           ROWS UNBOUNDED PRECEDING) AS cg,
             SUM(gc) OVER (PARTITION BY event_type) AS nt,
             COUNT(*) OVER (PARTITION BY event_type) AS m
      FROM dense),
    agg AS (
      SELECT event_type, MAX(n) AS n, MAX(nt) AS nt, MAX(m) AS mt,
             SUM(CAST(ABS(CAST(cc AS DECIMAL(38,0)) * nt
                          - CAST(cg AS DECIMAL(38,0)) * n)
                      AS DECIMAL(38,0))) AS sd
      FROM cum GROUP BY 1)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CASE WHEN mt > 1
                THEN ROUND(CAST(sd AS DOUBLE)
                           / (CAST(n AS DOUBLE) * CAST(nt AS DOUBLE)
                              * (CAST(mt AS DOUBLE) - 1.0)), 6)
           END AS t_emd
    FROM agg
    """,
)
def t_closeness_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness (stats.t_closeness) of each event_type class's
    value distribution vs the global one, over 8 ordered 50-unit
    buckets — completes the k-anonymity / l-diversity disclosure
    family with the skew-aware metric."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    base = (ev.filter(F.col("value").isNotNull())
            .select("event_type",
                    F.least(F.floor(F.col("value") / F.lit(50.0))
                            .cast("bigint"), F.lit(7)).alias("b")))
    return stats.t_closeness(base, ["event_type"], "b")


@q(
    "mrr_label_emb",
    """
    WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlab
               FROM embeddings WHERE vec_id < 20),
    sc AS (
      SELECT qid, qlab, e.vec_id AS cid, e.label AS clab,
             list_cosine_similarity(e.embedding::DOUBLE[], qv::DOUBLE[])
               AS sim
      FROM embeddings e, q WHERE e.vec_id <> qid),
    rk AS (
      SELECT qid, qlab, clab,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY sim DESC, cid) AS r
      FROM sc),
    top AS (SELECT * FROM rk WHERE r <= 10),
    per AS (SELECT qid, qlab,
                   MIN(CASE WHEN clab = qlab THEN r END) AS fr
            FROM top GROUP BY 1, 2),
    lc AS (SELECT label, COUNT(*) AS ln FROM embeddings GROUP BY 1)
    SELECT qid AS query_id, qlab AS label,
           CAST(ln - 1 AS BIGINT) AS n_rel,
           CAST(fr AS BIGINT) AS first_rel_rank,
           CASE WHEN fr IS NOT NULL
                THEN ROUND(1.0 / CAST(fr AS DOUBLE), 6) END AS rr,
           fr IS NOT NULL AS hit
    FROM per JOIN lc ON qlab = label
    """,
)
def mrr_label_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR / hit@10 retrieval eval (similarity.retrieval_eval) with the
    same ranking contract as ndcg_label_emb — first same-label rank,
    reciprocal rank, hit bit per query."""
    from tabsdata_spark.llm import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding", "label")
    return similarity.retrieval_eval(emb, qs, k=10)


@q(
    "eb_shrunk_rate_sources",
    """
    WITH agg AS (
      SELECT source, COUNT(*) AS n,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS s
      FROM documents GROUP BY 1),
    r AS (SELECT source, n, s,
                 CAST((s * 1000000) // n AS BIGINT) AS rm
          FROM agg),
    pri AS (SELECT COUNT(*) AS g,
                   SUM(CAST(rm AS DECIMAL(38,0))) AS sr,
                   SUM(CAST(rm AS DECIMAL(38,0)) * rm) AS s2
            FROM r),
    pp AS (
      SELECT CASE WHEN g >= 2
                   AND (CAST(g AS DOUBLE) * CAST(s2 AS DOUBLE)
                        - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE))
                       / (CAST(g AS DOUBLE) * (CAST(g AS DOUBLE) - 1.0))
                       / 1e12 > 0.0
                   AND (CAST(sr AS DOUBLE) / CAST(g AS DOUBLE) / 1e6)
                       * (1.0 - CAST(sr AS DOUBLE) / CAST(g AS DOUBLE)
                                / 1e6)
                       / ((CAST(g AS DOUBLE) * CAST(s2 AS DOUBLE)
                           - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE))
                          / (CAST(g AS DOUBLE)
                             * (CAST(g AS DOUBLE) - 1.0)) / 1e12)
                       - 1.0 > 0.0
                   AND CAST(sr AS DOUBLE) / CAST(g AS DOUBLE) / 1e6 > 0.0
                   AND CAST(sr AS DOUBLE) / CAST(g AS DOUBLE) / 1e6 < 1.0
                  THEN (CAST(sr AS DOUBLE) / CAST(g AS DOUBLE) / 1e6)
                       * ((CAST(sr AS DOUBLE) / CAST(g AS DOUBLE) / 1e6)
                          * (1.0 - CAST(sr AS DOUBLE) / CAST(g AS DOUBLE)
                                   / 1e6)
                          / ((CAST(g AS DOUBLE) * CAST(s2 AS DOUBLE)
                              - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE))
                             / (CAST(g AS DOUBLE)
                                * (CAST(g AS DOUBLE) - 1.0)) / 1e12)
                          - 1.0)
                  ELSE 1.0 END AS alpha,
             CASE WHEN g >= 2
                   AND (CAST(g AS DOUBLE) * CAST(s2 AS DOUBLE)
                        - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE))
                       / (CAST(g AS DOUBLE) * (CAST(g AS DOUBLE) - 1.0))
                       / 1e12 > 0.0
                   AND (CAST(sr AS DOUBLE) / CAST(g AS DOUBLE) / 1e6)
                       * (1.0 - CAST(sr AS DOUBLE) / CAST(g AS DOUBLE)
                                / 1e6)
                       / ((CAST(g AS DOUBLE) * CAST(s2 AS DOUBLE)
                           - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE))
                          / (CAST(g AS DOUBLE)
                             * (CAST(g AS DOUBLE) - 1.0)) / 1e12)
                       - 1.0 > 0.0
                   AND CAST(sr AS DOUBLE) / CAST(g AS DOUBLE) / 1e6 > 0.0
                   AND CAST(sr AS DOUBLE) / CAST(g AS DOUBLE) / 1e6 < 1.0
                  THEN (1.0 - CAST(sr AS DOUBLE) / CAST(g AS DOUBLE)
                              / 1e6)
                       * ((CAST(sr AS DOUBLE) / CAST(g AS DOUBLE) / 1e6)
                          * (1.0 - CAST(sr AS DOUBLE) / CAST(g AS DOUBLE)
                                   / 1e6)
                          / ((CAST(g AS DOUBLE) * CAST(s2 AS DOUBLE)
                              - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE))
                             / (CAST(g AS DOUBLE)
                                * (CAST(g AS DOUBLE) - 1.0)) / 1e12)
                          - 1.0)
                  ELSE 1.0 END AS beta
      FROM pri)
    SELECT source, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS s,
           ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
           ROUND(alpha, 6) AS alpha, ROUND(beta, 6) AS beta,
           ROUND((CAST(s AS DOUBLE) + alpha)
                 / (CAST(n AS DOUBLE) + alpha + beta), 6) AS shrunk_rate
    FROM r, pp
    """,
)
def eb_shrunk_rate_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrunk per-source English rate
    (stats.eb_beta_binomial): beta-binomial prior fitted by method of
    moments over exact ppm-quantized source rates, so tiny sources
    stop out-ranking large ones."""
    from tabsdata_spark import stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "source", (F.col("lang") == "en").cast("int").alias("sc"))
    return stats.eb_beta_binomial(docs, "sc", ["source"])


@q(
    "markov_entropy_events",
    """
    WITH seq AS (
      SELECT event_type AS state,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_state
      FROM events),
    pairs AS (
      SELECT state, next_state, COUNT(*) AS n_ab
      FROM seq WHERE next_state IS NOT NULL
      GROUP BY state, next_state),
    deg AS (SELECT state, SUM(n_ab) AS n_a FROM pairs GROUP BY state),
    per AS (
      SELECT p.state, MAX(d.n_a) AS n_a,
             SUM(CAST(FLOOR(CAST(p.n_ab AS DOUBLE) / CAST(d.n_a AS DOUBLE)
                            * (LN(CAST(d.n_a AS DOUBLE)
                                  / CAST(p.n_ab AS DOUBLE)) / LN(2.0))
                            * 1e12 + 0.5) AS BIGINT)) AS hq
      FROM pairs p JOIN deg d USING (state) GROUP BY p.state),
    tot AS (SELECT SUM(n_a) AS nt FROM per)
    SELECT state, CAST(n_a AS BIGINT) AS n_a,
           ROUND(CAST(n_a AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS pi,
           ROUND(CAST(hq AS DOUBLE) / 1e12, 6) AS h_bits,
           ROUND(CAST(n_a AS DOUBLE) / CAST(nt AS DOUBLE)
                 * (CAST(hq AS DOUBLE) / 1e12), 6) AS rate_contrib
    FROM per, tot
    """,
)
def markov_entropy_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-state entropy of the user-journey Markov chain
    (extensions.markov_entropy): 1e12-quantized entropy terms summed
    as exact integers, occupancy-weighted rate contributions."""
    from tabsdata_spark.extensions import markov_entropy

    ev = load_events(spark, sf_dir).df
    return markov_entropy(ev, "user_id", "ts", "event_type",
                          tie_cols=["event_id"])


@q(
    "degree_assortativity_orders",
    """
    WITH e AS (SELECT DISTINCT o_custkey AS s, l_suppkey AS d
               FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    ds AS (SELECT s, COUNT(*) AS ks FROM e GROUP BY 1),
    dd AS (SELECT d, COUNT(*) AS kd FROM e GROUP BY 1),
    j AS (SELECT ks, kd FROM e JOIN ds USING (s) JOIN dd USING (d)),
    m AS (SELECT COUNT(*) AS n,
                 SUM(CAST(ks AS DECIMAL(38,0))) AS sx,
                 SUM(CAST(kd AS DECIMAL(38,0))) AS sy,
                 SUM(CAST(ks AS DECIMAL(38,0)) * kd) AS sxy,
                 SUM(CAST(ks AS DECIMAL(38,0)) * ks) AS sxx,
                 SUM(CAST(kd AS DECIMAL(38,0)) * kd) AS syy
          FROM j)
    SELECT CAST(n AS BIGINT) AS n_edges,
           CASE WHEN n >= 3
                     AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
                     AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0
                THEN ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE)
                                     * CAST(sx AS DOUBLE))
                                  * (CAST(n AS DOUBLE)
                                     * CAST(syy AS DOUBLE)
                                     - CAST(sy AS DOUBLE)
                                       * CAST(sy AS DOUBLE))), 6)
           END AS assortativity
    FROM m
    """,
)
def degree_assortativity_orders(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Degree assortativity (graph.degree_assortativity) of the
    customer->supplier purchase graph — do high-degree customers buy
    from high-degree suppliers?"""
    from tabsdata_spark import graph

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    edges = (o.join(li, o["o_orderkey"] == li["l_orderkey"])
             .select(F.col("o_custkey").alias("s"),
                     F.col("l_suppkey").alias("d"))
             .distinct())
    return graph.degree_assortativity(edges, "s", "d")


@q(
    "heaps_law_docs",
    """
    WITH bounds AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi
                    FROM documents),
    toks AS (
      SELECT LEAST((doc_id - lo) * 32 // (hi - lo + 1), 31) AS b,
             unnest(list_filter(regexp_split_to_array(
                 trim(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g')),
                 '\\s+'), x -> x <> '')) AS t
      FROM documents, bounds),
    per_tok AS (SELECT t, MIN(b) AS fb, COUNT(*) AS c
                FROM toks GROUP BY t),
    nv AS (SELECT fb AS b, COUNT(*) AS nv FROM per_tok GROUP BY fb),
    nt AS (SELECT b, COUNT(*) AS nt FROM toks GROUP BY b),
    grid AS (
      SELECT COALESCE(nt.b, nv.b) AS b,
             COALESCE(nt.nt, 0) AS nt, COALESCE(nv.nv, 0) AS nv
      FROM nt FULL JOIN nv ON nt.b = nv.b)
    SELECT CAST(b AS BIGINT) AS bucket,
           CAST(nt AS BIGINT) AS n_tokens,
           CAST(nv AS BIGINT) AS new_vocab,
           CAST(SUM(nt) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum_tokens,
           CAST(SUM(nv) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum_vocab
    FROM grid
    """,
)
def heaps_law_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve over 32 doc-id buckets
    (corpus.heaps_law) — all-integer curve, cumulative window over
    the bounded bucket grid only."""
    from tabsdata_spark.llm import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.heaps_law(docs, buckets=32)


@q(
    "density_grid_emb",
    """
    SELECT CAST(FLOOR(embedding[1]::DOUBLE / 0.2) AS BIGINT) AS cell_x,
           CAST(FLOOR(embedding[2]::DOUBLE / 0.2) AS BIGINT) AS cell_y,
           CAST(COUNT(*) AS BIGINT) AS n,
           COUNT(*) >= 5 AS dense
    FROM embeddings
    GROUP BY 1, 2
    """,
)
def density_grid_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN-lite density map (cluster.density_grid) over the first
    two embedding dimensions: 0.2-sized cells, dense flag at >= 5
    points — integer-only output, no pairwise work."""
    from tabsdata_spark.llm import cluster

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cluster.density_grid(emb, min_pts=5)


@q(
    "trend_test_events",
    """
    WITH base AS (
      SELECT LEAST(CAST(TRUNC(value / 50.0) AS BIGINT), 7) AS w,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS sc
      FROM events WHERE value IS NOT NULL),
    g AS (SELECT w, COUNT(*) AS n, SUM(sc) AS s FROM base GROUP BY 1),
    m AS (SELECT COUNT(*) AS n_groups,
                 SUM(n) AS nt, SUM(s) AS st,
                 SUM(CAST(w AS DECIMAL(38,0)) * n) AS wn,
                 SUM(CAST(w AS DECIMAL(38,0)) * s) AS ws,
                 SUM(CAST(CAST(w AS DECIMAL(38,0)) * w AS DECIMAL(38,0))
                     * n) AS wwn
          FROM g)
    SELECT CAST(n_groups AS BIGINT) AS n_groups,
           CAST(nt AS BIGINT) AS n, CAST(st AS BIGINT) AS s,
           CASE WHEN CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
                     * (1.0 - CAST(st AS DOUBLE) / CAST(nt AS DOUBLE))
                     * (CAST(wwn AS DOUBLE)
                        - CAST(wn AS DOUBLE) * CAST(wn AS DOUBLE)
                          / CAST(nt AS DOUBLE)) > 0.0
                THEN ROUND((CAST(ws AS DOUBLE)
                            - CAST(wn AS DOUBLE)
                              * (CAST(st AS DOUBLE)
                                 / CAST(nt AS DOUBLE)))
                           / SQRT(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
                                  * (1.0 - CAST(st AS DOUBLE)
                                           / CAST(nt AS DOUBLE))
                                  * (CAST(wwn AS DOUBLE)
                                     - CAST(wn AS DOUBLE)
                                       * CAST(wn AS DOUBLE)
                                       / CAST(nt AS DOUBLE))), 6)
           END AS z
    FROM m
    """,
)
def trend_test_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test (stats.trend_test): does the
    purchase share trend monotonically across ordered 50-unit value
    buckets?  Exact decimal moment sums, one IEEE z."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    base = (ev.filter(F.col("value").isNotNull())
            .select(F.least(F.floor(F.col("value") / F.lit(50.0))
                            .cast("bigint"), F.lit(7)).alias("w"),
                    (F.col("event_type") == "purchase").cast("int")
                    .alias("sc")))
    return stats.trend_test(base, "w", "sc")


@q(
    "growth_accounting_events",
    """
    WITH grid AS (
      SELECT DISTINCT user_id AS u,
             (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) // 7 AS w
      FROM events),
    flags AS (
      SELECT u, w,
             LAG(w) OVER (PARTITION BY u ORDER BY w) AS pw,
             LEAD(w) OVER (PARTITION BY u ORDER BY w) AS nw
      FROM grid),
    per_week AS (
      SELECT w AS week, COUNT(*) AS active,
             SUM(CASE WHEN pw IS NULL THEN 1 ELSE 0 END) AS new_users,
             SUM(CASE WHEN pw = w - 1 THEN 1 ELSE 0 END) AS retained,
             SUM(CASE WHEN pw < w - 1 THEN 1 ELSE 0 END) AS resurrected
      FROM flags GROUP BY 1),
    churn AS (
      SELECT w + 1 AS week, COUNT(*) AS churned
      FROM flags WHERE nw IS NULL OR nw > w + 1
      GROUP BY 1)
    SELECT CAST(COALESCE(p.week, c.week) AS BIGINT) AS week,
           CAST(COALESCE(active, 0) AS BIGINT) AS active,
           CAST(COALESCE(new_users, 0) AS BIGINT) AS new_users,
           CAST(COALESCE(retained, 0) AS BIGINT) AS retained,
           CAST(COALESCE(resurrected, 0) AS BIGINT) AS resurrected,
           CAST(COALESCE(c.churned, 0) AS BIGINT) AS churned
    FROM per_week p FULL OUTER JOIN churn c ON p.week = c.week
    WHERE COALESCE(p.week, c.week) <= (SELECT MAX(week) FROM per_week)
    """,
)
def growth_accounting_events(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Weekly growth accounting (extensions.growth_accounting):
    active = new + retained + resurrected, churn attributed to the
    week after last activity — the growth-quality decomposition."""
    from tabsdata_spark.extensions import growth_accounting

    ev = load_events(spark, sf_dir).df
    return growth_accounting(ev, "user_id", "ts")


@q(
    "embedding_drift_emb",
    """
    WITH qa AS (
      SELECT u.i AS d,
             SUM(CAST(CAST(FLOOR(x[u.i] * 1e6 + 0.5) AS BIGINT)
                      AS DECIMAL(38,0))) AS sa
      FROM (SELECT embedding::DOUBLE[] AS x FROM embeddings
            WHERE vec_id % 2 = 0),
           (SELECT unnest(range(1, 65)) AS i) u
      GROUP BY 1),
    qb AS (
      SELECT u.i AS d,
             SUM(CAST(CAST(FLOOR(x[u.i] * 1e6 + 0.5) AS BIGINT)
                      AS DECIMAL(38,0))) AS sb
      FROM (SELECT embedding::DOUBLE[] AS x FROM embeddings
            WHERE vec_id % 2 <> 0),
           (SELECT unnest(range(1, 65)) AS i) u
      GROUP BY 1),
    na AS (SELECT COUNT(*) AS n FROM embeddings WHERE vec_id % 2 = 0),
    nb AS (SELECT COUNT(*) AS n FROM embeddings WHERE vec_id % 2 <> 0),
    m AS (
      SELECT SUM(CAST(sa * sb AS DECIMAL(38,0))) AS dot,
             SUM(CAST(sa * sa AS DECIMAL(38,0))) AS qna,
             SUM(CAST(sb * sb AS DECIMAL(38,0))) AS qnb
      FROM qa JOIN qb USING (d))
    SELECT CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
           CASE WHEN CAST(qna AS DOUBLE) > 0.0
                     AND CAST(qnb AS DOUBLE) > 0.0
                THEN ROUND(CAST(dot AS DOUBLE)
                           / SQRT(CAST(qna AS DOUBLE)
                                  * CAST(qnb AS DOUBLE)), 6)
           END AS centroid_cosine,
           CASE WHEN CAST(qna AS DOUBLE) > 0.0
                     AND CAST(qnb AS DOUBLE) > 0.0
                     AND na.n > 0 AND nb.n > 0
                THEN ROUND((SQRT(CAST(qna AS DOUBLE))
                            * CAST(nb.n AS DOUBLE))
                           / (SQRT(CAST(qnb AS DOUBLE))
                              * CAST(na.n AS DOUBLE)), 6)
           END AS centroid_norm_ratio
    FROM m, na, nb
    """,
)
def embedding_drift_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid drift between even- and odd-id embedding slices
    (similarity.embedding_drift): micros-quantized per-dim integer
    sums, cosine evaluated scale-free on the sum vectors."""
    from tabsdata_spark.llm import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 != 0)
    return similarity.embedding_drift(a, b)


@q(
    "referential_orphans_q",
    """
    WITH li AS (
      SELECT 'lineitem->orders' AS relation,
             COUNT(*) AS n_child,
             SUM(CASE WHEN NOT EXISTS (
                   SELECT 1 FROM orders o
                   WHERE o.o_orderkey = l.l_orderkey)
                 THEN 1 ELSE 0 END) AS n_orphans
      FROM lineitem l),
    oc AS (
      SELECT 'orders->customer' AS relation,
             COUNT(*) AS n_child,
             SUM(CASE WHEN NOT EXISTS (
                   SELECT 1 FROM customer c
                   WHERE c.c_custkey = o.o_custkey)
                 THEN 1 ELSE 0 END) AS n_orphans
      FROM orders o),
    sn AS (
      SELECT 'supplier->nation' AS relation,
             COUNT(*) AS n_child,
             SUM(CASE WHEN NOT EXISTS (
                   SELECT 1 FROM nation n
                   WHERE n.n_nationkey = s.s_nationkey)
                 THEN 1 ELSE 0 END) AS n_orphans
      FROM supplier s),
    u AS (SELECT * FROM li UNION ALL SELECT * FROM oc
          UNION ALL SELECT * FROM sn)
    SELECT relation, CAST(n_child AS BIGINT) AS n_child,
           CAST(n_orphans AS BIGINT) AS n_orphans,
           CASE WHEN n_child > 0
                THEN ROUND(CAST(n_orphans AS DOUBLE)
                           / CAST(n_child AS DOUBLE), 6)
           END AS orphan_rate
    FROM u
    """,
)
def referential_orphans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity gate (scale.referential_orphans) over
    three FK relationships — orphan counts/rates from left-anti
    joins, the pre-join ingest check."""
    from tabsdata_spark import scale

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r1 = scale.referential_orphans(li, "l_orderkey", o, "o_orderkey",
                                   "lineitem->orders")
    r2 = scale.referential_orphans(o, "o_custkey", c, "c_custkey",
                                   "orders->customer")
    r3 = scale.referential_orphans(n.sparkSession.read.parquet(
        f"{sf_dir}/supplier.parquet"), "s_nationkey", n, "n_nationkey",
        "supplier->nation")
    return r1.unionAll(r2).unionAll(r3)


@q(
    "rmst_orders",
    """
    WITH fs AS (
      SELECT l_orderkey, MIN(l_shipdate) AS ship
      FROM lineitem GROUP BY 1),
    base AS (
      SELECT o_orderpriority AS grp,
             (epoch_us(CAST(ship AS TIMESTAMP))
              - epoch_us(CAST(o_orderdate AS TIMESTAMP))) // 86400000000
             AS days
      FROM orders JOIN fs ON o_orderkey = l_orderkey),
    obs AS (
      SELECT grp, LEAST(days, 60) AS t,
             CASE WHEN days <= 60 THEN 1 ELSE 0 END AS ev
      FROM base WHERE days >= 0),
    pts AS (
      SELECT grp, t, SUM(ev) AS d, SUM(1 - ev) AS c
      FROM obs GROUP BY 1, 2),
    wn AS (
      SELECT grp, t, d, c,
             SUM(d + c) OVER (PARTITION BY grp)
             - SUM(d + c) OVER (PARTITION BY grp ORDER BY t
                                ROWS UNBOUNDED PRECEDING)
             + d + c AS n_risk
      FROM pts),
    sv AS (
      SELECT grp, t, n_risk, d,
             SUM(CASE WHEN d > 0 AND d < n_risk
                      THEN CAST(FLOOR(LN((n_risk - d)
                                         / CAST(n_risk AS DOUBLE))
                                      * 1e9 + 0.5) AS BIGINT)
                      ELSE 0 END)
               OVER (PARTITION BY grp ORDER BY t
                     ROWS UNBOUNDED PRECEDING) AS s,
             MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
               OVER (PARTITION BY grp ORDER BY t
                     ROWS UNBOUNDED PRECEDING) AS extinct
      FROM wn),
    km AS (
      SELECT grp, t,
             CASE WHEN extinct = 1 THEN CAST(0.0 AS DOUBLE)
                  ELSE ROUND(EXP(CAST(s AS DOUBLE) / 1e9), 6)
             END AS survival
      FROM sv WHERE d > 0),
    seg AS (
      SELECT grp, t, survival,
             LEAD(t) OVER (PARTITION BY grp ORDER BY t) AS tn,
             ROW_NUMBER() OVER (PARTITION BY grp ORDER BY t) AS rn
      FROM km),
    qq AS (
      SELECT grp, COUNT(*) AS n_times,
             SUM(CAST(FLOOR(survival
                            * CAST(LEAST(COALESCE(tn, 60), 60)
                                   - LEAST(t, 60) AS DOUBLE)
                            * 1e6 + 0.5) AS BIGINT)
                 + CASE WHEN rn = 1
                        THEN CAST(LEAST(t, 60) AS BIGINT) * 1000000
                        ELSE 0 END) AS q
      FROM seg GROUP BY 1)
    SELECT grp AS o_orderpriority, CAST(n_times AS BIGINT) AS n_times,
           ROUND(CAST(q AS DOUBLE) / 1e6, 6) AS rmst
    FROM qq
    """,
)
def rmst_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time to first shipment per order
    priority, horizon 60 days (stats.rmst) — the area under the
    kaplan_meier_orders curve, micros-quantized segment areas."""
    from tabsdata_spark import stats

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    fs = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("ship"))
    days = F.expr("(unix_micros(cast(ship as timestamp))"
                  " - unix_micros(cast(o_orderdate as timestamp)))"
                  " div 86400000000")
    base = (o.join(fs, o["o_orderkey"] == fs["l_orderkey"])
            .select(F.col("o_orderpriority").alias("grp"),
                    days.alias("days"))
            .filter(F.col("days") >= 0)
            .select("grp", F.least(F.col("days"), F.lit(60)).alias("t"),
                    (F.col("days") <= 60).alias("ev")))
    return stats.rmst(base, ["grp"], "t", "ev", tau=60) \
        .withColumnRenamed("grp", "o_orderpriority")


@q(
    "cusum_daily_events",
    """
    WITH daily AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS t,
             COUNT(*) AS n,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS p
      FROM events GROUP BY 1),
    base AS (SELECT t, CAST((p * 1000000) // n AS BIGINT) AS xq
             FROM daily),
    c AS (SELECT t, xq,
                 SUM(xq - 200000) OVER (ORDER BY t
                                        ROWS UNBOUNDED PRECEDING) AS cc
          FROM base),
    s AS (SELECT t, xq,
                 cc - LEAST(MIN(cc) OVER (ORDER BY t
                                          ROWS UNBOUNDED PRECEDING),
                            0) AS sv
          FROM c)
    SELECT CAST(t AS BIGINT) AS t,
           ROUND(CAST(xq AS DOUBLE) / 1e6, 6) AS x,
           ROUND(CAST(sv AS DOUBLE) / 1e6, 6) AS cusum,
           sv >= 500000 AS breach
    FROM s
    """,
)
def cusum_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift monitor (extensions.cusum) on the daily purchase
    share (ppm-quantized), reference k=0.2, threshold h=0.5 — the
    closed-form prefix-sum evaluation, no sequential loop."""
    from tabsdata_spark.extensions import cusum

    ev = load_events(spark, sf_dir).df
    day = F.expr("unix_micros(cast(ts as timestamp))"
                 " div 86400000000")
    daily = ev.groupBy(day.alias("t")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .alias("p"))
    base = daily.select("t", F.expr("(p * 1000000) div n").alias("xq"))
    return cusum(base, "t", "xq", k_micros=200000, h_micros=500000)


@q(
    "doc_keywords_docs",
    f"""
    WITH tf AS (
      SELECT doc_id, t AS term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest({_CLEAN_TOKS_SQL}) AS t
            FROM documents)
      GROUP BY 1, 2),
    dfq AS (SELECT term, COUNT(*) AS dfc FROM tf GROUP BY 1),
    nd AS (SELECT COUNT(*) AS ndv FROM documents),
    sc AS (
      SELECT doc_id, term, tf,
             CAST(CAST(tf AS DECIMAL(38,0))
                  * CAST(FLOOR(LN(CAST(ndv AS DOUBLE)
                                  / CAST(dfc AS DOUBLE))
                               * 1e12 + 0.5) AS BIGINT)
                  AS DECIMAL(38,0)) AS q
      FROM tf JOIN dfq USING (term), nd),
    rk AS (
      SELECT doc_id, term, tf, q,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY q DESC, term) AS r
      FROM sc WHERE doc_id < 40)
    SELECT doc_id, CAST(r AS BIGINT) AS rank, term,
           CAST(tf AS BIGINT) AS tf,
           ROUND(CAST(q AS DOUBLE) / 1e12, 6) AS tfidf
    FROM rk WHERE r <= 3
    """,
)
def doc_keywords_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (corpus.doc_keywords) for
    doc_id < 40, with corpus-wide document frequencies and an
    integer-quantized ranking score that can't flip on a float ulp."""
    from tabsdata_spark.llm import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.doc_keywords(docs, k=3).filter(F.col("doc_id") < 40)


@q(
    "bounce_rate_events",
    """
    WITH marked AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS mts,
             CASE WHEN lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w
                       IS NULL THEN 1
                  WHEN epoch_us(CAST(ts AS TIMESTAMP))
                       - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w
                       > 1800000000 THEN 1
                  ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id)),
    sess AS (
      SELECT user_id, mts,
             SUM(is_new) OVER (PARTITION BY user_id
                               ORDER BY mts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sno
      FROM marked),
    per AS (SELECT user_id, sno, COUNT(*) AS n, MIN(mts) AS st
            FROM sess GROUP BY 1, 2),
    d AS (
      SELECT epoch_us(st) // 86400000000 AS day,
             COUNT(*) AS ns,
             SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS nb
      FROM per GROUP BY 1)
    SELECT CAST(day AS BIGINT) AS day, CAST(ns AS BIGINT) AS n_sessions,
           CAST(nb AS BIGINT) AS n_bounces,
           ROUND(CAST(nb AS DOUBLE) / CAST(ns AS DOUBLE), 6)
             AS bounce_rate
    FROM d
    """,
)
def bounce_rate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate (extensions.bounce_rate): 30-min gap
    sessions, share of single-event sessions per session-start day —
    epoch-micros gaps, (ts, event_id) tie order."""
    from tabsdata_spark.extensions import bounce_rate

    ev = load_events(spark, sf_dir).df
    return bounce_rate(ev, "user_id", "ts", gap_seconds=1800,
                       tie_cols=["event_id"])


@q(
    "stream_cusum_events",
    """
    WITH base AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS mts, value,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS xq
      FROM events WHERE user_id < 40 AND value IS NOT NULL),
    c AS (
      SELECT event_id, user_id, mts, value, xq,
             SUM(xq - 250000000) OVER (PARTITION BY user_id
                                       ORDER BY mts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS cc
      FROM base),
    s AS (
      SELECT event_id, user_id, value,
             cc - LEAST(MIN(cc) OVER (PARTITION BY user_id
                                      ORDER BY mts, event_id
                                      ROWS UNBOUNDED PRECEDING),
                        0) AS sv
      FROM c)
    SELECT event_id, user_id, value,
           ROUND(CAST(sv AS DOUBLE) / 1e6, 6) AS cusum,
           sv >= 1000000000 AS breach
    FROM s
    """,
)
def stream_cusum_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE streaming per-user CUSUM (streaming/bus.py stream_cusum,
    applyInPandasWithState, 12th live streaming operator): the events
    slice streams back under an availableNow trigger and the O(1)
    integer-state detector emits every row's S and breach flag.  The
    oracle is the exact batch CLOSED FORM (prefix sum minus running
    minimum) of the same integer recursion, per user in (ts, event_id)
    order."""
    import tempfile

    from tabsdata_spark.streaming import bus

    ev = (load_events(spark, sf_dir).df
          .filter((F.col("user_id") < 40) & F.col("value").isNotNull())
          .select("event_id", "user_id", "ts", "value")
          .orderBy("ts", "event_id"))
    tmp = tempfile.mkdtemp(prefix="td_stream_cusum_")
    ev.coalesce(1).write.parquet(f"{tmp}/src/b1")
    schema = "event_id long, user_id long, ts timestamp, value double"
    stream = bus.stream_file_source(spark, f"{tmp}/src/*", schema)
    out = bus.stream_cusum(stream, "user_id", "ts", "value", "event_id",
                           k_micros=250000000, h_micros=1000000000)
    rows: list = []
    qy = (out.writeStream.outputMode("update")
          .foreachBatch(lambda b, i: rows.extend(b.collect()))
          .option("checkpointLocation", f"{tmp}/ckpt")
          .trigger(availableNow=True).start())
    qy.awaitTermination(300)
    return spark.createDataFrame(
        [(r["event_id"], r["k"], r["value"], r["cusum"], r["breach"])
         for r in rows],
        "event_id long, user_id long, value double, cusum double,"
        " breach boolean")


@q(
    "partial_corr_events",
    """
    WITH daily AS (
      SELECT event_type,
             epoch_us(CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE)
                           AS TIMESTAMP)) // 86400000000 AS t,
             COUNT(*) AS y
      FROM events WHERE event_type IN ('click', 'purchase', 'view')
      GROUP BY 1, 2),
    xyz AS (
      SELECT a.t, a.y AS x, b.y AS y, c.y AS z
      FROM (SELECT t, y FROM daily WHERE event_type = 'click') a
      JOIN (SELECT t, y FROM daily WHERE event_type = 'purchase') b
        ON a.t = b.t
      JOIN (SELECT t, y FROM daily WHERE event_type = 'view') c
        ON a.t = c.t),
    m AS (SELECT COUNT(*) AS n,
                 SUM(CAST(x AS DECIMAL(38,0))) AS sx,
                 SUM(CAST(y AS DECIMAL(38,0))) AS sy,
                 SUM(CAST(z AS DECIMAL(38,0))) AS sz,
                 SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
                 SUM(CAST(x AS DECIMAL(38,0)) * z) AS sxz,
                 SUM(CAST(y AS DECIMAL(38,0)) * z) AS syz,
                 SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
                 SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
                 SUM(CAST(z AS DECIMAL(38,0)) * z) AS szz
          FROM xyz),
    r AS (
      SELECT CAST(n AS BIGINT) AS n,
             CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
             CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy,
             CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
               - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) AS vz,
             CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cxy,
             CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE) AS cxz,
             CAST(n AS DOUBLE) * CAST(syz AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE) AS cyz
      FROM m),
    rr AS (
      SELECT n, vx, vy, vz,
             cxy / SQRT(vx * vy) AS rxy,
             cxz / SQRT(vx * vz) AS rxz,
             cyz / SQRT(vy * vz) AS ryz
      FROM r)
    SELECT n,
           CASE WHEN n >= 3 AND vx > 0.0 AND vy > 0.0 AND vz > 0.0
                THEN ROUND(rxy, 6) END AS r_xy,
           CASE WHEN n >= 3 AND vx > 0.0 AND vy > 0.0 AND vz > 0.0
                THEN ROUND(rxz, 6) END AS r_xz,
           CASE WHEN n >= 3 AND vx > 0.0 AND vy > 0.0 AND vz > 0.0
                THEN ROUND(ryz, 6) END AS r_yz,
           CASE WHEN n >= 3 AND vx > 0.0 AND vy > 0.0 AND vz > 0.0
                     AND (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0.0
                THEN ROUND((rxy - rxz * ryz)
                           / SQRT((1.0 - rxz * rxz)
                                  * (1.0 - ryz * ryz)), 6)
           END AS partial_r
    FROM rr
    """,
)
def partial_corr_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation (stats.partial_correlation) between daily
    click and purchase volumes controlling for daily view volume —
    does the click-purchase correlation survive the traffic
    confounder?"""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    day = F.expr("unix_micros(cast(to_date(ts) as timestamp))"
                 " div 86400000000")
    daily = (ev.filter(F.col("event_type").isin("click", "purchase",
                                                "view"))
             .groupBy("event_type", day.alias("t"))
             .agg(F.count(F.lit(1)).alias("y")))

    def leg(et, name):
        return daily.filter(F.col("event_type") == et).select(
            F.col("t").alias(f"__t{name}"), F.col("y").alias(name))

    xyz = (leg("click", "x")
           .join(leg("purchase", "y"),
                 F.col("__tx") == F.col("__ty"))
           .join(leg("view", "z"), F.col("__tx") == F.col("__tz"))
           .select("x", "y", "z"))
    return stats.partial_correlation(xyz, "x", "y", "z")


@q(
    "pairwise_means_events",
    """
    WITH base AS (
      SELECT event_type AS g,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS xq
      FROM events WHERE value IS NOT NULL),
    g AS (SELECT g, COUNT(*) AS n,
                 SUM(CAST(xq AS DECIMAL(38,0))) AS s,
                 SUM(CAST(xq AS DECIMAL(38,0)) * xq) AS s2
          FROM base GROUP BY 1),
    p AS (SELECT a.g AS g_a, b.g AS g_b,
                 a.n AS na, a.s AS sa, a.s2 AS s2a,
                 b.n AS nb, b.s AS sb, b.s2 AS s2b
          FROM g a JOIN g b ON a.g < b.g)
    SELECT g_a, g_b, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 1e6
                 - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 1e6, 6)
             AS mean_diff,
           CASE WHEN na >= 2 AND nb >= 2
                     AND (CAST(na AS DOUBLE) * CAST(s2a AS DOUBLE)
                          - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                         / (CAST(na AS DOUBLE)
                            * (CAST(na AS DOUBLE) - 1.0)) / 1e12
                         / CAST(na AS DOUBLE)
                         + (CAST(nb AS DOUBLE) * CAST(s2b AS DOUBLE)
                            - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
                           / (CAST(nb AS DOUBLE)
                              * (CAST(nb AS DOUBLE) - 1.0)) / 1e12
                           / CAST(nb AS DOUBLE) > 0.0
                THEN ROUND((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 1e6
                            - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)
                              / 1e6)
                           / SQRT((CAST(na AS DOUBLE)
                                   * CAST(s2a AS DOUBLE)
                                   - CAST(sa AS DOUBLE)
                                     * CAST(sa AS DOUBLE))
                                  / (CAST(na AS DOUBLE)
                                     * (CAST(na AS DOUBLE) - 1.0)) / 1e12
                                  / CAST(na AS DOUBLE)
                                  + (CAST(nb AS DOUBLE)
                                     * CAST(s2b AS DOUBLE)
                                     - CAST(sb AS DOUBLE)
                                       * CAST(sb AS DOUBLE))
                                    / (CAST(nb AS DOUBLE)
                                       * (CAST(nb AS DOUBLE) - 1.0))
                                    / 1e12 / CAST(nb AS DOUBLE)), 6)
           END AS z
    FROM p
    """,
)
def pairwise_means_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairwise event-type mean-value comparisons with Welch
    z-scores (stats.pairwise_mean_diffs) — the post-hoc grid over the
    bounded category set."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    base = (ev.filter(F.col("value").isNotNull())
            .select(F.col("event_type").alias("g"),
                    F.floor(F.col("value") * 1e6 + F.lit(0.5))
                    .cast("bigint").alias("xq")))
    return stats.pairwise_mean_diffs(base, "g", "xq")


@q(
    "near_dup_orders",
    """
    WITH base AS (
      SELECT o_custkey, o_orderkey,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      FROM orders)
    SELECT a.o_custkey, CAST(a.o_orderkey AS BIGINT) AS id_a,
           CAST(b.o_orderkey AS BIGINT) AS id_b,
           CAST(ABS(a.c - b.c) AS BIGINT) AS diff_cents
    FROM base a JOIN base b
      ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
     AND ABS(a.c - b.c) <= 20000
    """,
)
def near_dup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric near-duplicate order pairs per customer within 200.00 of
    total price (extensions.numeric_near_dup): band-blocked equi
    join, each pair surfaced exactly once — double-entry detection
    without an all-pairs product."""
    from tabsdata_spark.extensions import numeric_near_dup

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey", "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        .alias("cents"))
    return numeric_near_dup(o, "o_custkey", "o_orderkey", "cents",
                            tolerance=20000)


@q(
    "pk_violations_q",
    """
    WITH o AS (
      SELECT 'orders(o_orderkey)' AS relation, COUNT(*) AS n_rows,
             COUNT(DISTINCT o_orderkey) AS n_keys
      FROM orders),
    c AS (
      SELECT 'customer(c_custkey)' AS relation, COUNT(*) AS n_rows,
             COUNT(DISTINCT c_custkey) AS n_keys
      FROM customer),
    li AS (
      SELECT 'lineitem(l_orderkey,l_linenumber)' AS relation,
             COUNT(*) AS n_rows,
             COUNT(DISTINCT l_orderkey || '#' || l_linenumber) AS n_keys
      FROM lineitem),
    e AS (
      SELECT 'events(event_id)' AS relation, COUNT(*) AS n_rows,
             COUNT(DISTINCT event_id) AS n_keys
      FROM events),
    u AS (SELECT * FROM o UNION ALL SELECT * FROM c
          UNION ALL SELECT * FROM li UNION ALL SELECT * FROM e)
    SELECT relation, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_keys AS BIGINT) AS n_keys,
           CAST(n_rows - n_keys AS BIGINT) AS dup_rows,
           CASE WHEN n_rows > 0
                THEN ROUND(CAST(n_rows - n_keys AS DOUBLE)
                           / CAST(n_rows AS DOUBLE), 6)
           END AS dup_rate
    FROM u
    """,
)
def pk_violations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key integrity gate (scale.primary_key_report) over four
    tables — duplicate-key row counts before any join fans out."""
    from tabsdata_spark import scale

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ev = load_events(spark, sf_dir).df
    li_k = li.select(F.concat_ws("#", F.col("l_orderkey"),
                                 F.col("l_linenumber")).alias("pk"))
    r = scale.primary_key_report(o, "o_orderkey", "orders(o_orderkey)")
    r = r.unionAll(scale.primary_key_report(
        c, "c_custkey", "customer(c_custkey)"))
    r = r.unionAll(scale.primary_key_report(
        li_k, "pk", "lineitem(l_orderkey,l_linenumber)"))
    r = r.unionAll(scale.primary_key_report(
        ev, "event_id", "events(event_id)"))
    return r


@q(
    "code_switch_docs",
    """
    WITH scored AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents),
    s2 AS (
      SELECT doc_id,
             len(list_filter(toks, x -> list_contains(
                 ['der','die','und','das','nicht'], x))) AS s_de,
             len(list_filter(toks, x -> list_contains(
                 ['the','and','of','is','that'], x))) AS s_en,
             len(list_filter(toks, x -> list_contains(
                 ['el','la','los','que','de'], x))) AS s_es,
             len(list_filter(toks, x -> list_contains(
                 ['le','les','des','est','une'], x))) AS s_fr,
             len(list_filter(toks, x -> list_contains(
                 ['de','shi','le','bu','wo'], x))) AS s_zh
      FROM scored),
    t1 AS (
      SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
             greatest(s_de, s_en, s_es, s_fr, s_zh) AS m1,
             CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) <= 0
                    THEN 'und'
                  WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh)
                    THEN 'de'
                  WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh)
                    THEN 'en'
                  WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh)
                    THEN 'es'
                  WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh)
                    THEN 'fr'
                  ELSE 'zh' END AS l1
      FROM s2),
    t2 AS (
      SELECT doc_id, l1, m1, s_de, s_en, s_es, s_fr, s_zh,
             CASE l1 WHEN 'de' THEN greatest(s_en, s_es, s_fr, s_zh)
                     WHEN 'en' THEN greatest(s_de, s_es, s_fr, s_zh)
                     WHEN 'es' THEN greatest(s_de, s_en, s_fr, s_zh)
                     WHEN 'fr' THEN greatest(s_de, s_en, s_es, s_zh)
                     WHEN 'zh' THEN greatest(s_de, s_en, s_es, s_fr)
                     ELSE greatest(s_en, s_es, s_fr, s_zh) END AS m2
      FROM t1),
    fin AS (
      SELECT doc_id, l1, m1, m2,
             CASE WHEN m1 <= 0 OR m2 <= 0 THEN 'und'
                  WHEN l1 <> 'de' AND s_de = m2 THEN 'de'
                  WHEN l1 <> 'en' AND s_en = m2 THEN 'en'
                  WHEN l1 <> 'es' AND s_es = m2 THEN 'es'
                  WHEN l1 <> 'fr' AND s_fr = m2 THEN 'fr'
                  ELSE 'zh' END AS l2
      FROM t2)
    SELECT doc_id, l1 AS lang_1,
           CAST(GREATEST(m1, 0) AS BIGINT) AS s_1,
           l2 AS lang_2, CAST(GREATEST(m2, 0) AS BIGINT) AS s_2,
           m1 > 0 AND m2 >= 2 AS code_switch
    FROM fin
    """,
)
def code_switch_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-switch detection (textual.code_switch_report): top-2
    marker-language scores per doc, flagged when the second language
    keeps >= 2 hits — the mixed-language bucket for routing."""
    from tabsdata_spark.llm import textual as tx

    docs = fan_out(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return tx.code_switch_report(docs)


@q(
    "kcore_orders",
    """
    WITH ed AS (
      SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_custkey % 8 = 0),
    e0 AS (SELECT a, b FROM ed UNION SELECT b, a FROM ed),
    k0 AS (SELECT a FROM (SELECT a, COUNT(*) AS c FROM e0 GROUP BY a)
           WHERE c >= 12),
    e1 AS (SELECT e0.a, e0.b FROM e0
           JOIN k0 ka ON e0.a = ka.a JOIN k0 kb ON e0.b = kb.a),
    k1 AS (SELECT a FROM (SELECT a, COUNT(*) AS c FROM e1 GROUP BY a)
           WHERE c >= 12),
    e2 AS (SELECT e1.a, e1.b FROM e1
           JOIN k1 ka ON e1.a = ka.a JOIN k1 kb ON e1.b = kb.a),
    k2 AS (SELECT a FROM (SELECT a, COUNT(*) AS c FROM e2 GROUP BY a)
           WHERE c >= 12),
    e3 AS (SELECT e2.a, e2.b FROM e2
           JOIN k2 ka ON e2.a = ka.a JOIN k2 kb ON e2.b = kb.a),
    k3 AS (SELECT a FROM (SELECT a, COUNT(*) AS c FROM e3 GROUP BY a)
           WHERE c >= 12),
    e4 AS (SELECT e3.a, e3.b FROM e3
           JOIN k3 ka ON e3.a = ka.a JOIN k3 kb ON e3.b = kb.a)
    SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM e4 GROUP BY a
    """,
)
def kcore_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-round 12-core peeling of the customer-supplier graph over a
    1/8 customer slice (graph.kcore_peel): density filter, exact
    integer degrees, bounded-round contract unrolled identically in
    the oracle.  Below 200k directed edges the peel runs in the
    driver (the CC small-graph precedent); the distributed semi-join
    path covers real scale."""
    from tabsdata_spark import graph

    o = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .filter(F.col("o_custkey") % 8 == 0)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    edges = _cust_supp_edges(o, li, "s", "d")
    out = graph.kcore_peel(edges, "s", "d", k=12, rounds=4)
    return _unmap_graph_nodes(out)


@q(
    "mase_backtest_events",
    """
    WITH daily AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS t,
             COUNT(*) AS y
      FROM events GROUP BY 1),
    lagged AS (
      SELECT t, y,
             LAG(y, 1) OVER (ORDER BY t) AS l1,
             LAG(y, 7) OVER (ORDER BY t) AS ls
      FROM daily),
    s AS (SELECT * FROM lagged WHERE ls IS NOT NULL),
    m AS (SELECT COUNT(*) AS n_points,
                 SUM(ABS(y - ls)) AS es, SUM(ABS(y - l1)) AS e1
          FROM s)
    SELECT CAST(n_points AS BIGINT) AS n_points,
           CAST(es AS BIGINT) AS seasonal_abs_err,
           CAST(e1 AS BIGINT) AS naive_abs_err,
           CASE WHEN e1 > 0
                THEN ROUND(CAST(es AS DOUBLE) / CAST(e1 AS DOUBLE), 6)
           END AS mase
    FROM m
    """,
)
def mase_backtest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive MASE backtest (extensions.mase_backtest) on the
    daily event-count series: is week-over-week structure real?  All
    integer error sums over the bounded daily grid."""
    from tabsdata_spark.extensions import mase_backtest

    ev = load_events(spark, sf_dir).df
    day = F.expr("unix_micros(cast(ts as timestamp))"
                 " div 86400000000")
    daily = ev.groupBy(day.alias("t")).agg(F.count(F.lit(1)).alias("y"))
    return mase_backtest(daily, "t", "y", season=7)


@q(
    "shard_rebalance_docs",
    """
    WITH keys AS (SELECT DISTINCT CAST(doc_id AS VARCHAR) AS k
                  FROM documents),
    base AS (
      SELECT k,
             CAST(('0x' || substring(md5(k), 1, 6)) AS BIGINT) % 16 AS mf,
             CAST(('0x' || substring(md5(k), 1, 6)) AS BIGINT) % 17 AS mt
      FROM keys),
    scored AS (
      SELECT k, mf, mt, n.n AS node,
             CAST(('0x' || substring(md5(k || '#' || n.n), 1, 6))
                  AS BIGINT) AS s
      FROM base, (SELECT unnest(range(0, 17)) AS n) n),
    ranked AS (
      SELECT k, mf, mt, node, s,
             ROW_NUMBER() OVER (PARTITION BY k
                                ORDER BY s DESC, node) AS rt,
             ROW_NUMBER() OVER (PARTITION BY k
                                ORDER BY CASE WHEN node < 16 THEN 0
                                              ELSE 1 END,
                                         s DESC, node) AS rf
      FROM scored),
    per_key AS (
      SELECT k, MAX(mf) AS amf, MAX(mt) AS amt,
             MIN(CASE WHEN rf = 1 THEN node END) AS af,
             MIN(CASE WHEN rt = 1 THEN node END) AS at
      FROM ranked GROUP BY k),
    agg AS (
      SELECT COUNT(*) AS n_keys,
             SUM(CASE WHEN amf <> amt THEN 1 ELSE 0 END) AS mod_moved,
             SUM(CASE WHEN af <> at THEN 1 ELSE 0 END) AS rdv_moved
      FROM per_key)
    SELECT CAST(n_keys AS BIGINT) AS n_keys,
           CAST(mod_moved AS BIGINT) AS mod_moved,
           ROUND(CAST(mod_moved AS DOUBLE) / CAST(n_keys AS DOUBLE), 6)
             AS mod_moved_rate,
           CAST(rdv_moved AS BIGINT) AS rdv_moved,
           ROUND(CAST(rdv_moved AS DOUBLE) / CAST(n_keys AS DOUBLE), 6)
             AS rdv_moved_rate
    FROM agg
    """,
)
def shard_rebalance_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resharding-cost report 16 -> 17 shards over doc ids
    (scale.shard_rebalance_report): modulo hashing moves ~16/17 of
    keys, rendezvous hashing ~1/17 — engine-portable md5 scores, ties
    to the lower node on both engines."""
    from tabsdata_spark import scale

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return scale.shard_rebalance_report(docs, "doc_id", n_from=16,
                                        n_to=17)


@q(
    "incremental_join_orders",
    """
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def incremental_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-IVM refresh (scale.delta_merge_agg): orders split into a
    snapshot (< 1998-01-01) and a delta, each joined to its dimensions
    and aggregated INDEPENDENTLY, then merged by re-summing exact
    decimal partials — the refresh path that never rescans the
    snapshot; the oracle is the monolithic join, certifying the merge
    is lossless."""
    from tabsdata_spark import scale

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    dims = c.join(F.broadcast(n),
                  c["c_nationkey"] == n["n_nationkey"]) \
        .select("c_custkey", "n_name")
    cut = F.lit("1998-01-01").cast("timestamp")
    joined_base = o.filter(F.col("o_orderdate") < cut) \
        .join(dims, o["o_custkey"] == dims["c_custkey"])
    joined_delta = o.filter(F.col("o_orderdate") >= cut) \
        .join(dims, o["o_custkey"] == dims["c_custkey"])
    out = scale.delta_merge_agg(
        joined_base, joined_delta, ["n_name"],
        {"n_orders": F.lit(1).cast("bigint"),
         "revenue": F.col("o_totalprice").cast("decimal(18,2)")})
    return out.select("n_name",
                      F.col("n_orders").cast("bigint").alias("n_orders"),
                      F.col("revenue").cast("double").alias("revenue"))


@q(
    "dwell_time_events",
    """
    WITH g AS (
      SELECT event_type AS state,
             LEAD(epoch_us(CAST(ts AS TIMESTAMP)))
               OVER (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP), event_id)
             - epoch_us(CAST(ts AS TIMESTAMP)) AS gap
      FROM events),
    base AS (SELECT state, gap FROM g
             WHERE gap IS NOT NULL AND gap <= 1800000000),
    agg AS (SELECT state, COUNT(*) AS n, SUM(gap) AS sg
            FROM base GROUP BY 1)
    SELECT state, CAST(n AS BIGINT) AS n_dwells,
           ROUND(CAST(sg AS DOUBLE) / 1e6 / CAST(n AS DOUBLE), 6)
             AS mean_dwell_sec
    FROM agg
    """,
)
def dwell_time_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type mean dwell seconds within sessions
    (extensions.dwell_time) — the timing companion to the Markov
    transition matrix."""
    from tabsdata_spark.extensions import dwell_time

    ev = load_events(spark, sf_dir).df
    return dwell_time(ev, "user_id", "ts", "event_type",
                      gap_seconds=1800, tie_cols=["event_id"])


@q(
    "brier_decomp_docs",
    """
    WITH base AS (
      SELECT LEAST(CAST(FLOOR(LEAST(n_chars / 2000.0, 1.0) * 10)
                        AS INTEGER), 9) AS b,
             CAST(FLOOR(LEAST(n_chars / 2000.0, 1.0) * 1e6 + 0.5)
                  AS BIGINT) AS sq,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             CAST(FLOOR((LEAST(n_chars / 2000.0, 1.0)
                         - CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END)
                        * (LEAST(n_chars / 2000.0, 1.0)
                           - CASE WHEN lang = 'en' THEN 1.0
                                  ELSE 0.0 END)
                        * 1e12 + 0.5) AS BIGINT) AS bq
      FROM documents),
    per_bin AS (
      SELECT b, COUNT(*) AS n, SUM(sq) AS ss, SUM(y) AS pos,
             SUM(CAST(bq AS DECIMAL(38,0))) AS bsum
      FROM base GROUP BY 1),
    tot AS (SELECT SUM(n) AS nt, SUM(pos) AS pt FROM per_bin),
    j AS (
      SELECT per_bin.*, tot.nt, tot.pt,
             CAST(FLOOR(CAST(n AS DOUBLE)
                        * (CAST(ss AS DOUBLE) / 1e6 / CAST(n AS DOUBLE)
                           - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(ss AS DOUBLE) / 1e6 / CAST(n AS DOUBLE)
                           - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
                        * 1e12 + 0.5) AS BIGINT) AS relq,
             CAST(FLOOR(CAST(n AS DOUBLE)
                        * (CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
                           - CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE))
                        * (CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
                           - CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE))
                        * 1e12 + 0.5) AS BIGINT) AS resq
      FROM per_bin, tot),
    agg AS (
      SELECT MAX(nt) AS n, MAX(pt) AS p, SUM(bsum) AS bs,
             SUM(relq) AS rel, SUM(resq) AS res
      FROM j)
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(CAST(bs AS DOUBLE) / 1e12 / CAST(n AS DOUBLE), 6)
             AS brier,
           ROUND(CAST(rel AS DOUBLE) / 1e12 / CAST(n AS DOUBLE), 6)
             AS reliability,
           ROUND(CAST(res AS DOUBLE) / 1e12 / CAST(n AS DOUBLE), 6)
             AS resolution,
           ROUND(CAST(p AS DOUBLE) / CAST(n AS DOUBLE)
                 * (1.0 - CAST(p AS DOUBLE) / CAST(n AS DOUBLE)), 6)
             AS uncertainty
    FROM agg
    """,
)
def brier_decomp_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy Brier decomposition (stats.brier_decomposition) of a
    length-based pseudo-probability (n_chars/2000 capped at 1)
    predicting lang='en' — raw Brier, reliability, resolution,
    uncertainty, every term integer-quantized before its sum."""
    from tabsdata_spark import stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.least(F.col("n_chars") / F.lit(2000.0), F.lit(1.0))
        .alias("score"),
        (F.col("lang") == "en").cast("int").alias("y"))
    return stats.brier_decomposition(docs, "score", "y", bins=10)


@q(
    "neyman_allocation_events",
    """
    WITH base AS (
      SELECT event_type AS stratum,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS xq
      FROM events WHERE value IS NOT NULL),
    g AS (SELECT stratum, COUNT(*) AS n,
                 SUM(CAST(xq AS DECIMAL(38,0))) AS s,
                 SUM(CAST(xq AS DECIMAL(38,0)) * xq) AS s2
          FROM base GROUP BY 1),
    g2 AS (
      SELECT stratum, n,
             ROUND(SQRT(GREATEST(
               (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
               / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
               / 1e12, 0.0)), 6) AS stddev,
             CASE WHEN n >= 2
                  THEN CAST(FLOOR(CAST(n AS DOUBLE)
                         * SQRT(GREATEST(
                             (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                             / (CAST(n AS DOUBLE)
                                * (CAST(n AS DOUBLE) - 1.0))
                             / 1e12, 0.0))
                         * 1e6 + 0.5) AS BIGINT)
                  ELSE 0 END AS wq
      FROM g),
    tot AS (SELECT SUM(wq) AS wt FROM g2)
    SELECT stratum, CAST(n AS BIGINT) AS n, stddev,
           ROUND(CAST(wq AS DOUBLE) / CAST(wt AS DOUBLE), 6) AS weight,
           CASE WHEN wt > 0
                THEN CAST(FLOOR(10000.0 * (CAST(wq AS DOUBLE)
                                           / CAST(wt AS DOUBLE)))
                          AS BIGINT)
                ELSE 0 END AS alloc
    FROM g2, tot
    """,
)
def neyman_allocation_events(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Neyman allocation (stats.neyman_allocation) of a 10k-row
    sampling budget across event types, proportional to n_h * s_h of
    the value column — the variance-minimizing stratified design."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    base = (ev.filter(F.col("value").isNotNull())
            .select("event_type",
                    F.floor(F.col("value") * 1e6 + F.lit(0.5))
                    .cast("bigint").alias("xq")))
    return stats.neyman_allocation(base, "event_type", "xq",
                                   budget=10000)


@q(
    "stream_gopher_gate_docs",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents WHERE doc_id < 400
    ),
    m AS (
      SELECT doc_id,
             len(toks) AS n_words,
             CASE WHEN len(toks) > 0 THEN ROUND(
                  CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
                  / len(toks), 6) ELSE 0.0 END AS mean_word_len,
             CASE WHEN len(toks) > 0 THEN ROUND(
                  CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
                       AS DOUBLE) / len(toks), 6) ELSE 0.0 END AS alpha_frac,
             len(list_filter(toks, t -> list_contains(
                  ['the','be','to','of','and','that','have','with'], t)))
                 AS stop_hits
      FROM t
    )
    SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_hits,
           (n_words BETWEEN 50 AND 100000)
             AND (mean_word_len BETWEEN 3.0 AND 10.0)
             AND alpha_frac >= 0.8 AND stop_hits >= 2 AS keep
    FROM m
    """,
)
def stream_gopher_gate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE streaming quality gate (13th live streaming operator): the
    documents slice streams back under an availableNow trigger and the
    Gopher rules gate (textual.gopher_quality_rules — a pure
    projection, so the stream stays stateless/append) flags every
    arriving document.  The streaming-ETL form of corpus ingestion
    gating; oracle is the batch gate SQL."""
    import tempfile

    from tabsdata_spark.llm import textual as tx
    from tabsdata_spark.streaming import bus

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter(F.col("doc_id") < 400)
            .select("doc_id", "text"))
    tmp = tempfile.mkdtemp(prefix="td_stream_gate_")
    docs.coalesce(1).write.parquet(f"{tmp}/src/b1")
    stream = bus.stream_file_source(spark, f"{tmp}/src/*",
                                    "doc_id long, text string")
    gated = tx.gopher_quality_rules(stream).select(
        "doc_id", "n_words", "mean_word_len", "alpha_frac",
        "stop_hits", "keep")
    rows: list = []
    qy = (gated.writeStream.outputMode("append")
          .foreachBatch(lambda b, i: rows.extend(b.collect()))
          .option("checkpointLocation", f"{tmp}/ckpt")
          .trigger(availableNow=True).start())
    qy.awaitTermination(300)
    return spark.createDataFrame(
        [(r["doc_id"], r["n_words"], r["mean_word_len"],
          r["alpha_frac"], r["stop_hits"], r["keep"]) for r in rows],
        "doc_id long, n_words int, mean_word_len double,"
        " alpha_frac double, stop_hits int, keep boolean")


@q(
    "rolling_wau_events",
    """
    WITH grid AS (
      SELECT DISTINCT user_id AS u,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
      FROM events),
    tgt AS (
      SELECT DISTINCT u, d + o.o AS day
      FROM grid, (SELECT unnest(range(0, 7)) AS o) o),
    wau AS (SELECT day, COUNT(*) AS trailing_actives
            FROM tgt GROUP BY 1),
    dau AS (SELECT d AS day, COUNT(*) AS dau FROM grid GROUP BY 1)
    SELECT CAST(dau.day AS BIGINT) AS day,
           CAST(dau AS BIGINT) AS dau,
           CAST(trailing_actives AS BIGINT) AS trailing_actives
    FROM dau JOIN wau ON dau.day = wau.day
    """,
)
def rolling_wau_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-day distinct actives per observed day
    (extensions.rolling_distinct): the fan-out-and-recollapse form of
    sliding distinct — a COUNT(DISTINCT) no row window can express."""
    from tabsdata_spark.extensions import rolling_distinct

    ev = load_events(spark, sf_dir).df
    return rolling_distinct(ev, "user_id", "ts", window_days=7)


@q(
    "intrinsic_dim_emb",
    """
    WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 50),
    sc AS (
      SELECT qid, e.vec_id AS cid,
             list_reduce(list_transform(range(1, 65),
                 i -> (e.embedding[i]::DOUBLE - qv[i])
                      * (e.embedding[i]::DOUBLE - qv[i])),
                 (p, x) -> p + x) AS d2
      FROM embeddings e, q WHERE e.vec_id <> qid),
    rk AS (
      SELECT qid, d2,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY d2 ASC, cid ASC) AS r
      FROM sc),
    per AS (
      SELECT qid,
             MIN(CASE WHEN r = 1 THEN d2 END) AS d1,
             MIN(CASE WHEN r = 2 THEN d2 END) AS dd2
      FROM rk WHERE r <= 2 GROUP BY qid),
    m AS (
      SELECT SUM(CASE WHEN d1 > 0.0 AND dd2 IS NOT NULL
                      THEN 1 ELSE 0 END) AS n_used,
             SUM(CASE WHEN d1 > 0.0 AND dd2 IS NOT NULL
                      THEN 0 ELSE 1 END) AS n_degenerate,
             SUM(CASE WHEN d1 > 0.0 AND dd2 IS NOT NULL
                      THEN CAST(FLOOR(0.5 * LN(dd2 / d1) * 1e12 + 0.5)
                                AS BIGINT)
                      ELSE 0 END) AS ls
      FROM per)
    SELECT CAST(n_used AS BIGINT) AS n_used,
           CAST(n_degenerate AS BIGINT) AS n_degenerate,
           CASE WHEN n_used > 0 AND ls > 0
                THEN ROUND(CAST(n_used AS DOUBLE)
                           / (CAST(ls AS DOUBLE) / 1e12), 6)
           END AS intrinsic_dim
    FROM m
    """,
)
def intrinsic_dim_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic-dimension estimate
    (similarity.intrinsic_dimension) over the first 50 vectors as
    probes — squared-distance ranking with id tie-break, 1e12-
    quantized log ratios."""
    from tabsdata_spark.llm import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return similarity.intrinsic_dimension(emb, qs)


@q(
    "pruning_sim_orders",
    """
    WITH base AS (
      SELECT o_orderkey AS k,
             epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000
               AS v
      FROM orders),
    bounds AS (SELECT MIN(k) AS alo, MAX(k) AS ahi,
                      MIN(v) AS vlo, MAX(v) AS vhi FROM base),
    arr AS (
      SELECT LEAST((k - alo) * 32 // (ahi - alo + 1), 31) AS b,
             MIN(v) AS mn, MAX(v) AS mx
      FROM base, bounds GROUP BY 1),
    srt AS (
      SELECT LEAST((v - vlo) * 32 // (vhi - vlo + 1), 31) AS b,
             MIN(v) AS mn, MAX(v) AS mx
      FROM base, bounds GROUP BY 1),
    u AS (
      SELECT 'arrival' AS layout, COUNT(*) AS n_buckets,
             SUM(CASE WHEN mx < 9496 OR mn > 9861 THEN 1 ELSE 0 END)
               AS n_skipped
      FROM arr
      UNION ALL
      SELECT 'sorted', COUNT(*),
             SUM(CASE WHEN mx < 9496 OR mn > 9861 THEN 1 ELSE 0 END)
      FROM srt)
    SELECT layout, CAST(n_buckets AS BIGINT) AS n_buckets,
           CAST(n_skipped AS BIGINT) AS n_skipped,
           ROUND(CAST(n_skipped AS DOUBLE) / CAST(n_buckets AS DOUBLE),
                 6) AS skip_rate
    FROM u
    """,
)
def pruning_sim_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max data-skipping simulation (scale.pruning_report):
    arrival-order buckets vs date-sorted buckets of orders, skip
    counts for a 1996 calendar-year predicate — the quantified case
    for a sort/Z-order re-layout."""
    from tabsdata_spark import scale

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("k"),
        F.expr("unix_micros(cast(o_orderdate as timestamp))"
               " div 86400000000").alias("v"))
    return scale.pruning_report(o, "k", "v", lo=9496, hi=9861,
                                buckets=32)


@q(
    "skyline_orders",
    """
    WITH fs AS (SELECT l_orderkey, MIN(l_shipdate) AS ship
                FROM lineitem GROUP BY 1),
    pts AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) // 10000
               AS x,
             (epoch_us(CAST(ship AS TIMESTAMP))
              - epoch_us(CAST(o_orderdate AS TIMESTAMP)))
             // 86400000000 AS y
      FROM orders JOIN fs ON o_orderkey = l_orderkey
      WHERE (epoch_us(CAST(ship AS TIMESTAMP))
             - epoch_us(CAST(o_orderdate AS TIMESTAMP)))
            // 86400000000 >= 0),
    cells AS (SELECT x, y, COUNT(*) AS n FROM pts GROUP BY 1, 2),
    per_x AS (SELECT x, MIN(y) AS y FROM cells GROUP BY 1),
    g AS (SELECT per_x.x, per_x.y, cells.n
          FROM per_x JOIN cells ON per_x.x = cells.x
                                AND per_x.y = cells.y),
    flagged AS (
      SELECT x, y, n,
             MIN(y) OVER (ORDER BY x
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prior
      FROM g)
    SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
           CAST(n AS BIGINT) AS n_points
    FROM flagged WHERE prior IS NULL OR y < prior
    """,
)
def skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/latency Pareto frontier (extensions.skyline2d): cheapest
    orders per fulfillment speed, price bucketed to whole hundreds
    (the bounded-grid contract), latency in whole days — no order on
    the frontier is beaten on both axes."""
    from tabsdata_spark.extensions import skyline2d

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    fs = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("ship"))
    lat = F.expr("(unix_micros(cast(ship as timestamp))"
                 " - unix_micros(cast(o_orderdate as timestamp)))"
                 " div 86400000000")
    pts = (o.join(fs, o["o_orderkey"] == fs["l_orderkey"])
           .select(F.expr("cast(floor(o_totalprice * 100 + 0.5) as"
                          " bigint) div 10000").alias("px"),
                   lat.alias("py"))
           .filter(F.col("py") >= 0))
    return skyline2d(pts, "px", "py")


@q(
    "runs_test_events",
    """
    WITH daily AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS t,
             COUNT(*) AS y
      FROM events GROUP BY 1),
    lagged AS (SELECT t, y, LAG(y) OVER (ORDER BY t) AS p FROM daily),
    signs AS (
      SELECT t, CASE WHEN y > p THEN 1 ELSE 0 END AS s
      FROM lagged WHERE p IS NOT NULL AND y <> p),
    runs AS (
      SELECT s, CASE WHEN LAG(s) OVER (ORDER BY t) IS NULL
                       OR LAG(s) OVER (ORDER BY t) <> s
                     THEN 1 ELSE 0 END AS nw
      FROM signs),
    agg AS (SELECT SUM(s) AS n_up, SUM(1 - s) AS n_down,
                   SUM(nw) AS n_runs
            FROM runs)
    SELECT CAST(n_up AS BIGINT) AS n_up,
           CAST(n_down AS BIGINT) AS n_down,
           CAST(n_runs AS BIGINT) AS n_runs,
           CASE WHEN n_up > 0 AND n_down > 0
                     AND 2.0 * CAST(n_up AS DOUBLE)
                         * CAST(n_down AS DOUBLE)
                         * (2.0 * CAST(n_up AS DOUBLE)
                            * CAST(n_down AS DOUBLE)
                            - CAST(n_up AS DOUBLE)
                            - CAST(n_down AS DOUBLE))
                         / ((CAST(n_up AS DOUBLE)
                             + CAST(n_down AS DOUBLE))
                            * (CAST(n_up AS DOUBLE)
                               + CAST(n_down AS DOUBLE))
                            * (CAST(n_up AS DOUBLE)
                               + CAST(n_down AS DOUBLE) - 1.0)) > 0.0
                THEN ROUND((CAST(n_runs AS DOUBLE)
                            - (2.0 * CAST(n_up AS DOUBLE)
                               * CAST(n_down AS DOUBLE)
                               / (CAST(n_up AS DOUBLE)
                                  + CAST(n_down AS DOUBLE)) + 1.0))
                           / SQRT(2.0 * CAST(n_up AS DOUBLE)
                                  * CAST(n_down AS DOUBLE)
                                  * (2.0 * CAST(n_up AS DOUBLE)
                                     * CAST(n_down AS DOUBLE)
                                     - CAST(n_up AS DOUBLE)
                                     - CAST(n_down AS DOUBLE))
                                  / ((CAST(n_up AS DOUBLE)
                                      + CAST(n_down AS DOUBLE))
                                     * (CAST(n_up AS DOUBLE)
                                        + CAST(n_down AS DOUBLE))
                                     * (CAST(n_up AS DOUBLE)
                                        + CAST(n_down AS DOUBLE)
                                        - 1.0))), 6)
           END AS z
    FROM agg
    """,
)
def runs_test_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test (stats.runs_test) on daily event-count
    up/down moves — momentum vs mean reversion vs randomness, exact
    run counts over the bounded daily grid."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    day = F.expr("unix_micros(cast(ts as timestamp))"
                 " div 86400000000")
    daily = ev.groupBy(day.alias("t")).agg(F.count(F.lit(1)).alias("y"))
    return stats.runs_test(daily, "t", "y")


@q(
    "theil_u_docs",
    """
    WITH cells AS (
      SELECT lang AS x, source AS y, COUNT(*) AS c
      FROM documents GROUP BY 1, 2),
    mx AS (SELECT x, SUM(c) AS cx FROM cells GROUP BY 1),
    my AS (SELECT y, SUM(c) AS cy FROM cells GROUP BY 1),
    tot AS (SELECT SUM(c) AS n FROM cells),
    j AS (SELECT cells.c, mx.cx, my.cy, tot.n
          FROM cells JOIN mx USING (x) JOIN my USING (y), tot),
    q1 AS (
      SELECT n,
             CAST(FLOOR(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
                        * (LN(CAST(c AS DOUBLE) * CAST(n AS DOUBLE)
                              / (CAST(cx AS DOUBLE)
                                 * CAST(cy AS DOUBLE)))
                           / LN(2.0))
                        * 1e12 + 0.5) AS BIGINT) AS miq1
      FROM j),
    mi AS (
      SELECT MAX(n) AS n,
             SUM(CAST(miq1 AS DECIMAL(38,0))) AS miq
      FROM q1),
    hx AS (
      SELECT SUM(CAST(FLOOR(CAST(cx AS DOUBLE) / CAST(n AS DOUBLE)
                            * (LN(CAST(n AS DOUBLE)
                                  / CAST(cx AS DOUBLE)) / LN(2.0))
                            * 1e12 + 0.5) AS BIGINT)) AS hxq
      FROM mx, tot)
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(CAST(hxq AS DOUBLE) / 1e12, 6) AS h_x,
           ROUND(CAST(miq AS DOUBLE) / 1e12, 6) AS mi_bits,
           CASE WHEN hxq > 0
                THEN ROUND((CAST(miq AS DOUBLE) / 1e12)
                           / (CAST(hxq AS DOUBLE) / 1e12), 6)
           END AS theil_u
    FROM mi, hx
    """,
)
def theil_u_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient U(lang|source)
    (stats.theil_u): how much of the language mix does knowing the
    source explain — the normalized, asymmetric association score."""
    from tabsdata_spark import stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stats.theil_u(docs, "lang", "source")


@q(
    "sequential_obf_events",
    """
    WITH base AS (
      SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) // 7
               AS look,
             (user_id % 2 = 0) AS c,
             CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS sc
      FROM events WHERE value IS NOT NULL),
    per AS (
      SELECT look,
             SUM(CASE WHEN c THEN 1 ELSE 0 END) AS pn1,
             SUM(CASE WHEN c THEN sc ELSE 0 END) AS ps1,
             SUM(CASE WHEN NOT c THEN 1 ELSE 0 END) AS pn2,
             SUM(CASE WHEN NOT c THEN sc ELSE 0 END) AS ps2
      FROM base GROUP BY 1),
    cum AS (
      SELECT look, ROW_NUMBER() OVER (ORDER BY look) AS k,
             SUM(pn1) OVER w AS n_1, SUM(ps1) OVER w AS s_1,
             SUM(pn2) OVER w AS n_2, SUM(ps2) OVER w AS s_2
      FROM per
      WINDOW w AS (ORDER BY look ROWS UNBOUNDED PRECEDING)),
    z AS (
      SELECT look, k, n_1, n_2,
             CASE WHEN n_1 > 0 AND n_2 > 0
                       AND (CAST(s_1 AS DOUBLE) + CAST(s_2 AS DOUBLE))
                           / (CAST(n_1 AS DOUBLE) + CAST(n_2 AS DOUBLE))
                           * (1.0 - (CAST(s_1 AS DOUBLE)
                                     + CAST(s_2 AS DOUBLE))
                              / (CAST(n_1 AS DOUBLE)
                                 + CAST(n_2 AS DOUBLE)))
                           * (1.0 / CAST(n_1 AS DOUBLE)
                              + 1.0 / CAST(n_2 AS DOUBLE)) > 0.0
                  THEN ROUND((CAST(s_1 AS DOUBLE) / CAST(n_1 AS DOUBLE)
                              - CAST(s_2 AS DOUBLE)
                                / CAST(n_2 AS DOUBLE))
                             / SQRT((CAST(s_1 AS DOUBLE)
                                     + CAST(s_2 AS DOUBLE))
                                    / (CAST(n_1 AS DOUBLE)
                                       + CAST(n_2 AS DOUBLE))
                                    * (1.0 - (CAST(s_1 AS DOUBLE)
                                              + CAST(s_2 AS DOUBLE))
                                       / (CAST(n_1 AS DOUBLE)
                                          + CAST(n_2 AS DOUBLE)))
                                    * (1.0 / CAST(n_1 AS DOUBLE)
                                       + 1.0 / CAST(n_2 AS DOUBLE))), 6)
             END AS z
      FROM cum)
    SELECT CAST(look AS BIGINT) AS look, CAST(k AS BIGINT) AS look_no,
           CAST(n_1 AS BIGINT) AS n_1, CAST(n_2 AS BIGINT) AS n_2, z,
           ROUND(([4.877, 3.357, 2.680, 2.290, 2.031])
                 [LEAST(k, 5)], 6) AS bound,
           CASE WHEN z IS NOT NULL
                THEN ABS(z) > ([4.877, 3.357, 2.680, 2.290, 2.031])
                              [LEAST(k, 5)]
                ELSE FALSE END AS crossed
    FROM z
    """,
)
def sequential_obf_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential A/B monitor (stats.sequential_ztest): weekly
    cumulative two-proportion z between even/odd users vs
    O'Brien-Fleming bounds — legitimate peeking."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    wk = F.expr("(unix_micros(cast(ts as timestamp))"
                " div 86400000000) div 7")
    base = (ev.filter(F.col("value").isNotNull())
            .select(wk.alias("w"),
                    (F.col("user_id") % 2 == 0).alias("c"),
                    (F.col("value") > 50.0).cast("int").alias("sc")))
    return stats.sequential_ztest(base, "w", "c", "sc")


@q(
    "rdd_events",
    """
    WITH base AS (
      SELECT CAST(TRUNC(value) AS BIGINT) AS x,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
      WHERE value IS NOT NULL AND TRUNC(value) BETWEEN 100 AND 400),
    g AS (
      SELECT x >= 250 AS r, COUNT(*) AS n,
             SUM(CAST(x AS DECIMAL(38,0))) AS sx,
             SUM(CAST(y AS DECIMAL(38,0))) AS sy,
             SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
             SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx
      FROM base GROUP BY 1),
    side AS (
      SELECT r, n,
             CASE WHEN n >= 3
                       AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                           > 0.0
                  THEN CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                       - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                       + (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * 250.0
             END AS yhat
      FROM g)
    SELECT CAST(COALESCE(SUM(CASE WHEN NOT r THEN n END), 0) AS BIGINT)
             AS n_left,
           CAST(COALESCE(SUM(CASE WHEN r THEN n END), 0) AS BIGINT)
             AS n_right,
           ROUND(MIN(CASE WHEN NOT r THEN yhat END), 6) AS yhat_left,
           ROUND(MIN(CASE WHEN r THEN yhat END), 6) AS yhat_right,
           ROUND(MIN(CASE WHEN r THEN yhat END)
                 - MIN(CASE WHEN NOT r THEN yhat END), 6) AS jump
    FROM side
    """,
)
def rdd_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression discontinuity (stats.rdd_estimate): purchase
    share vs the value running variable, cutoff 250, bandwidth 150 —
    per-side exact OLS lines, jump at the cutoff."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    base = (ev.filter(F.col("value").isNotNull())
            .select(F.col("value").cast("bigint").alias("x"),
                    (F.col("event_type") == "purchase").cast("int")
                    .alias("y")))
    return stats.rdd_estimate(base, "x", "y", cutoff=250, bandwidth=150)


@q(
    "tenure_hazard_events",
    """
    WITH wk AS (
      SELECT user_id AS u,
             (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) // 7 AS w
      FROM events),
    pu AS (SELECT u, MIN(w) AS fw, MAX(w) AS lw FROM wk GROUP BY 1),
    mx AS (SELECT MAX(lw) AS mw FROM pu),
    uu AS (SELECT lw - fw AS t, lw = mw AS cens FROM pu, mx),
    pt AS (SELECT t AS tenure_weeks, COUNT(*) AS ended,
                  SUM(CASE WHEN NOT cens THEN 1 ELSE 0 END) AS churned
           FROM uu GROUP BY 1),
    o AS (SELECT tenure_weeks, churned,
                 SUM(ended) OVER (ORDER BY tenure_weeks DESC
                                  ROWS UNBOUNDED PRECEDING) AS at_risk
          FROM pt)
    SELECT CAST(tenure_weeks AS BIGINT) AS tenure_weeks,
           CAST(at_risk AS BIGINT) AS at_risk,
           CAST(churned AS BIGINT) AS churned,
           ROUND(CAST(churned AS DOUBLE) / CAST(at_risk AS DOUBLE), 6)
             AS hazard
    FROM o
    """,
)
def tenure_hazard_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time churn hazard by tenure week
    (extensions.tenure_hazard): when do users leave — final-week
    actives censored, reverse-cumulative at-risk counts."""
    from tabsdata_spark.extensions import tenure_hazard

    ev = load_events(spark, sf_dir).df
    return tenure_hazard(ev, "user_id", "ts")


@q(
    "revenue_share_tree",
    """
    WITH child AS (
      SELECT r_name AS parent, n_name AS child,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS v
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY 1, 2),
    par AS (SELECT parent, SUM(v) AS pv FROM child GROUP BY 1),
    tot AS (SELECT SUM(v) AS gv FROM child)
    SELECT parent, child, CAST(v AS DOUBLE) AS value,
           ROUND(CAST(v AS DOUBLE) / CAST(pv AS DOUBLE), 6)
             AS share_of_parent,
           ROUND(CAST(v AS DOUBLE) / CAST(gv AS DOUBLE), 6)
             AS share_of_total
    FROM child JOIN par USING (parent), tot
    """,
)
def revenue_share_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region -> nation revenue contribution tree
    (extensions.contribution_tree): exact decimal totals, percent of
    parent and of grand total."""
    from tabsdata_spark.extensions import contribution_tree

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    base = (o.join(c, o["o_custkey"] == c["c_custkey"])
            .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
            .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
            .select("r_name", "n_name", "o_totalprice"))
    return contribution_tree(base, "r_name", "n_name", "o_totalprice")


@q(
    "chi2_residuals_docs",
    """
    WITH cells AS (
      SELECT lang AS a, source AS b, COUNT(*) AS n_obs
      FROM documents GROUP BY 1, 2),
    ma AS (SELECT a, SUM(n_obs) AS ca FROM cells GROUP BY 1),
    mb AS (SELECT b, SUM(n_obs) AS cb FROM cells GROUP BY 1),
    tot AS (SELECT SUM(n_obs) AS n FROM cells)
    SELECT a, b, CAST(n_obs AS BIGINT) AS n_obs,
           ROUND(CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)
                 / CAST(n AS DOUBLE), 6) AS expected,
           CASE WHEN CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)
                     / CAST(n AS DOUBLE) > 0.0
                THEN ROUND((CAST(n_obs AS DOUBLE)
                            - CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)
                              / CAST(n AS DOUBLE))
                           / SQRT(CAST(ca AS DOUBLE)
                                  * CAST(cb AS DOUBLE)
                                  / CAST(n AS DOUBLE)), 6)
           END AS std_residual,
           CASE WHEN CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)
                     / CAST(n AS DOUBLE) > 0.0
                THEN ROUND((CAST(n_obs AS DOUBLE)
                            - CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)
                              / CAST(n AS DOUBLE))
                           * (CAST(n_obs AS DOUBLE)
                              - CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)
                                / CAST(n AS DOUBLE))
                           / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)
                              / CAST(n AS DOUBLE)), 6)
           END AS chi2_cell
    FROM cells JOIN ma USING (a) JOIN mb USING (b), tot
    """,
)
def chi2_residuals_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell chi-square residuals for lang x source
    (stats.chi2_residuals) — which cells drive the association the
    omnibus chi2 detects."""
    from tabsdata_spark import stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stats.chi2_residuals(docs, "lang", "source")


@q(
    "power_analysis_events",
    """
    WITH agg AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS s
      FROM events WHERE value IS NOT NULL GROUP BY 1)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
           CASE WHEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) > 0.0
                     AND LEAST(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                               * 1.2, 1.0)
                         > CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                THEN ROUND(LEAST(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                                 * 1.2, 1.0), 6)
           END AS target_rate,
           CASE WHEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) > 0.0
                     AND LEAST(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                               * 1.2, 1.0)
                         > CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                THEN CAST(CEIL(
                  (1.959964 * SQRT(2.0
                     * ((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                         + LEAST(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                                 * 1.2, 1.0)) / 2.0)
                     * (1.0 - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                               + LEAST(CAST(s AS DOUBLE)
                                       / CAST(n AS DOUBLE) * 1.2,
                                       1.0)) / 2.0))
                   + 0.841621 * SQRT(
                       CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                       * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                       + LEAST(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                               * 1.2, 1.0)
                         * (1.0 - LEAST(CAST(s AS DOUBLE)
                                        / CAST(n AS DOUBLE) * 1.2,
                                        1.0))))
                  * (1.959964 * SQRT(2.0
                     * ((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                         + LEAST(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                                 * 1.2, 1.0)) / 2.0)
                     * (1.0 - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                               + LEAST(CAST(s AS DOUBLE)
                                       / CAST(n AS DOUBLE) * 1.2,
                                       1.0)) / 2.0))
                   + 0.841621 * SQRT(
                       CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                       * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                       + LEAST(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                               * 1.2, 1.0)
                         * (1.0 - LEAST(CAST(s AS DOUBLE)
                                        / CAST(n AS DOUBLE) * 1.2,
                                        1.0))))
                  / ((LEAST(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                            * 1.2, 1.0)
                      - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                     * (LEAST(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                              * 1.2, 1.0)
                        - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))))
                  AS BIGINT)
           END AS n_per_arm
    FROM agg
    """,
)
def power_analysis_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion power analysis (stats.power_two_proportion):
    n-per-arm to detect a 20% relative lift over each event type's
    observed value>50 rate at alpha 0.05 / power 0.8."""
    from tabsdata_spark import stats

    ev = load_events(spark, sf_dir).df
    base = (ev.filter(F.col("value").isNotNull())
            .select("event_type",
                    (F.col("value") > 50.0).cast("int").alias("sc")))
    return stats.power_two_proportion(base, ["event_type"], "sc")


@q(
    "lorenz_curve_customers",
    """
    WITH base AS (
      SELECT LEAST(GREATEST((CAST(FLOOR(c_acctbal * 100 + 0.5)
                                  AS BIGINT) - 0) * 20
                            // (1000000 - 0 + 1), 0), 19) AS b,
             CAST(GREATEST(LEAST(CAST(FLOOR(c_acctbal * 100 + 0.5)
                                      AS BIGINT), 1000000), 0)
                  AS DECIMAL(38,0)) AS x
      FROM customer),
    g AS (SELECT b, COUNT(*) AS n, SUM(x) AS s FROM base GROUP BY 1),
    cum AS (
      SELECT b,
             SUM(n) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cn,
             SUM(s) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cs,
             SUM(n) OVER () AS tn, SUM(s) OVER () AS ts
      FROM g)
    SELECT CAST(b AS BIGINT) AS bucket, CAST(cn AS BIGINT) AS cum_count,
           ROUND(CAST(cn AS DOUBLE) / CAST(tn AS DOUBLE), 6)
             AS pop_share,
           CASE WHEN CAST(ts AS DOUBLE) > 0.0
                THEN ROUND(CAST(cs AS DOUBLE) / CAST(ts AS DOUBLE), 6)
           END AS value_share
    FROM cum
    """,
)
def lorenz_curve_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer account balances (stats.lorenz_curve):
    cumulative population vs balance share over 20 equal-width cents
    buckets (clamped to [0, 10k]) — where the Gini concentration
    lives."""
    from tabsdata_spark import stats

    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint")
        .alias("xq"))
    return stats.lorenz_curve(c, "xq", buckets=20, lo=0, hi=1000000)


@q(
    "negative_sampling_tokens",
    """
    WITH counts AS (
      SELECT t AS token, COUNT(*) AS n
      FROM (SELECT unnest(list_filter(regexp_split_to_array(
                trim(regexp_replace(lower(text), '[^a-z0-9\\s]', '',
                                    'g')), '\\s+'), x -> x <> '')) AS t
            FROM documents)
      GROUP BY 1),
    head AS (SELECT token, n FROM counts
             ORDER BY n DESC, token LIMIT 500),
    scored AS (
      SELECT token, n,
             CAST(FLOOR(EXP(0.75 * LN(CAST(n AS DOUBLE))) * 1e6 + 0.5)
                  AS BIGINT) AS wq
      FROM head),
    cum AS (
      SELECT token, n, wq,
             SUM(wq) OVER (ORDER BY n DESC, token
                           ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(wq) OVER () AS tw
      FROM scored)
    SELECT token, CAST(n AS BIGINT) AS n,
           ROUND(CAST(wq AS DOUBLE) / CAST(tw AS DOUBLE), 6)
             AS p_sample,
           CAST(cw - wq AS BIGINT) AS range_start,
           CAST(cw AS BIGINT) AS range_end
    FROM cum
    """,
)
def negative_sampling_tokens(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """word2vec negative-sampling table (corpus.
    negative_sampling_table): top-500 tokens, count^0.75 weights
    quantized to exact integers, inverse-CDF ranges."""
    from tabsdata_spark.llm import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.negative_sampling_table(docs, top=500)


def _markov_attr_oracle(steps: int = 12,
                        channels=("click", "error", "signup",
                                  "view")) -> str:
    """Generated oracle for markov_attribution_events: the transition
    build mirrors graph.markov_attribution's windows, then the SAME
    pure-integer `steps`-step absorption recursion unrolls as chained
    CTEs per variant (base + one per removed channel).  Integer ops go
    through HUGEINT intermediates (never output columns)."""
    head = """
    WITH ev AS (
      SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS mts, event_id,
             CASE WHEN event_type = 'purchase' THEN 'conv'
                  ELSE event_type END AS st
      FROM events),
    r AS MATERIALIZED (
          SELECT u, st, ROW_NUMBER() OVER (PARTITION BY u
                                           ORDER BY mts, event_id)
                 AS rn
          FROM ev),
    fp AS (SELECT u, MIN(rn) AS rp FROM r WHERE st = 'conv'
           GROUP BY u),
    kept AS (SELECT r.u, r.st, r.rn FROM r LEFT JOIN fp ON r.u = fp.u
             WHERE fp.rp IS NULL OR r.rn <= fp.rp),
    seq AS (SELECT u, st, rn,
                   LEAD(st) OVER (PARTITION BY u ORDER BY rn) AS nxt
            FROM kept),
    trans_raw AS (
      SELECT 'start' AS src, st AS dst FROM seq WHERE rn = 1
      UNION ALL
      SELECT st, nxt FROM seq WHERE nxt IS NOT NULL
      UNION ALL
      SELECT st, 'null' FROM seq WHERE nxt IS NULL AND st <> 'conv'),
    trans AS (SELECT src, dst, COUNT(*) AS n FROM trans_raw
              GROUP BY 1, 2),
    nisrc AS (SELECT src, SUM(n) AS ni FROM trans GROUP BY 1),
    tbase AS MATERIALIZED (
      SELECT t.src, t.dst, t.n, nisrc.ni
      FROM trans t JOIN nisrc USING (src)
      UNION ALL SELECT 'conv', 'conv', 1, 1
      UNION ALL SELECT 'null', 'null', 1, 1)"""
    parts = [head]
    tags = {"base": None}
    for c in channels:
        tags[f"rm_{c}"] = c
    for tag, removed in tags.items():
        if removed is None:
            tcte = "tbase"
        else:
            tcte = f"t_{tag}"
            parts.append(f""",
    {tcte} AS MATERIALIZED (
      SELECT src,
             CASE WHEN dst = '{removed}' THEN 'null' ELSE dst END
               AS dst,
             SUM(n) AS n, ni
      FROM tbase WHERE src <> '{removed}'
      GROUP BY 1, 2, 4)""")
        parts.append(f""",
    m_{tag}_0 AS (SELECT 'start' AS state,
                         CAST(1000000000000 AS BIGINT) AS mq)""")
        for k in range(steps):
            parts.append(f""",
    m_{tag}_{k + 1} AS (
      SELECT t.dst AS state,
             CAST(SUM((CAST(m.mq AS HUGEINT) * t.n) // t.ni)
                  AS BIGINT) AS mq
      FROM m_{tag}_{k} m JOIN {tcte} t ON t.src = m.state
      GROUP BY t.dst)""")
        parts.append(f""",
    p_{tag} AS (SELECT COALESCE(MAX(CASE WHEN state = 'conv' THEN mq
                                         END), 0) AS cq
                FROM m_{tag}_{steps})""")
    rows = " UNION ALL ".join(
        f"SELECT '{c}' AS channel, (SELECT cq FROM p_rm_{c}) AS rq"
        for c in channels)
    parts.append(f""",
    variants AS ({rows}),
    scored AS (
      SELECT channel, (SELECT cq FROM p_base) AS bq, rq,
             CASE WHEN (SELECT cq FROM p_base) > 0
                  THEN (CAST((SELECT cq FROM p_base) AS DOUBLE)
                        - CAST(rq AS DOUBLE))
                       / CAST((SELECT cq FROM p_base) AS DOUBLE)
             END AS re_u
      FROM variants),
    denom AS (SELECT SUM(GREATEST(re_u, 0.0)) AS dn FROM scored)
    SELECT channel, CAST(bq AS BIGINT) AS base_conv_q,
           CAST(rq AS BIGINT) AS removal_conv_q,
           ROUND(re_u, 6) AS removal_effect,
           CASE WHEN re_u IS NOT NULL AND dn > 0.0
                THEN ROUND(GREATEST(re_u, 0.0) / dn, 6)
           END AS attribution
    FROM scored, denom
    """)
    return "".join(parts)


@q("markov_attribution_events", _markov_attr_oracle())
def markov_attribution_events(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (graph.markov_attribution):
    journeys truncate at first purchase, absorption evaluated over a
    12-step pure-integer horizon, each channel credited by normalized
    removal effect.  The oracle unrolls the identical integer
    recursion per variant."""
    from tabsdata_spark import graph

    ev = load_events(spark, sf_dir).df
    return graph.markov_attribution(ev, "user_id", "ts", "event_type",
                                    "purchase", tie_cols=["event_id"])


@q(
    "cosine_histogram_emb",
    """
    WITH q AS (SELECT vec_id AS qid, embedding AS qv
               FROM embeddings WHERE vec_id < 80),
    pairs AS (
      SELECT LEAST(GREATEST(CAST(FLOOR(
               (list_cosine_similarity(e.embedding::DOUBLE[],
                                       qv::DOUBLE[]) + 1.0)
               / 2.0 * 20) AS INTEGER), 0), 19) AS bucket
      FROM embeddings e, q WHERE e.vec_id <> qid),
    g AS (SELECT bucket, COUNT(*) AS n_pairs FROM pairs GROUP BY 1),
    tot AS (SELECT SUM(n_pairs) AS t FROM g)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           ROUND(CAST(n_pairs AS DOUBLE) / CAST(t AS DOUBLE), 6)
             AS share
    FROM g, tot
    """,
)
def cosine_histogram_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine distribution (similarity.cosine_histogram):
    80 probes x corpus, 20 similarity buckets — the anisotropy /
    threshold-calibration readout for the embedding space."""
    from tabsdata_spark.llm import similarity

    raw = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # fan_out only the corpus side; the 80-row query side derives from
    # the un-fanned read so its (collected/broadcast) lineage skips the
    # repartition shuffle
    emb = fan_out(raw)
    qs = raw.filter(F.col("vec_id") < 80).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return similarity.cosine_histogram(emb, qs, buckets=20)


@q(
    "daily_value_bands_events",
    """
    WITH cells AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             CAST(TRUNC(value) AS BIGINT) AS v, COUNT(*) AS c
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    cum AS (
      SELECT day, v,
             SUM(c) OVER (PARTITION BY day ORDER BY v
                          ROWS UNBOUNDED PRECEDING) AS cumc,
             SUM(c) OVER (PARTITION BY day) AS n
      FROM cells)
    SELECT CAST(day AS BIGINT) AS day, CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN cumc * 100 >= 10 * n THEN v END)
                AS BIGINT) AS p10,
           CAST(MIN(CASE WHEN cumc * 100 >= 50 * n THEN v END)
                AS BIGINT) AS p50,
           CAST(MIN(CASE WHEN cumc * 100 >= 90 * n THEN v END)
                AS BIGINT) AS p90
    FROM cum GROUP BY day
    """,
)
def daily_value_bands_events(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Exact daily p10/p50/p90 bands of whole-unit event values
    (extensions.daily_percentile_bands) — the sketch-free band chart,
    per-day windows over the bounded value grid."""
    from tabsdata_spark.extensions import daily_percentile_bands

    ev = load_events(spark, sf_dir).df
    base = (ev.filter(F.col("value").isNotNull())
            .select("ts", F.col("value").cast("bigint").alias("v")))
    return daily_percentile_bands(base, "ts", "v")


@q(
    "freshness_events",
    """
    WITH per AS (
      SELECT event_type AS grp,
             MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS lastm
      FROM events GROUP BY 1),
    gm AS (SELECT MAX(lastm) AS gmax FROM per),
    cnt AS (
      SELECT event_type AS grp, COUNT(*) AS n_last_hour
      FROM events, gm
      WHERE epoch_us(CAST(ts AS TIMESTAMP)) >= gmax - 3600000000
      GROUP BY 1)
    SELECT per.grp AS event_type,
           make_timestamp(lastm) AS last_ts,
           CAST((gmax - lastm) // 1000000 AS BIGINT) AS lag_seconds,
           CAST(COALESCE(n_last_hour, 0) AS BIGINT) AS n_last_hour
    FROM per LEFT JOIN cnt ON per.grp = cnt.grp CROSS JOIN gm
    """,
)
def freshness_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type freshness gate (extensions.freshness_report):
    last event time, lag behind the global watermark, activity in the
    final hour — the stalled-source detector."""
    from tabsdata_spark.extensions import freshness_report

    ev = load_events(spark, sf_dir).df
    return freshness_report(ev, "event_type", "ts")
