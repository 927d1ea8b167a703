"""TPC-H-style analytics queries over the catalog star schema.

Each query has two faces kept adjacent so they can't drift:
  - a DataFrame builder ``qN(spark, sf_dir) -> DataFrame`` (what runs
    on Spark; declarative so Catalyst does pushdown/pruning/broadcast),
  - an ANSI-SQL oracle string in ``ORACLE_SQL`` (what DuckDB runs on
    the same parquet for the correctness gate).

Determinism contract shared by both faces: monetary aggregates are
computed in DECIMAL (exact, order-independent under Spark's parallel
aggregation) and the *final* value is cast to DOUBLE, so both engines
produce bit-identical numbers. Averages are expressed as exact decimal
SUM divided by COUNT in double. All computed columns carry matching
aliases on both faces.

The schema is the driver's reduced TPC-H (TESTDATA.md); queries whose
canonical form needs missing columns (l_shipmode, o_comment, ...) are
adapted and noted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import _copurchase_pairs
from ..sources.catalog import load_table

# decimal cast applied to money/discount columns before aggregation
_DEC = "decimal(18,2)"


def _dec(col):
    return F.col(col).cast(_DEC)


def _money(expr):
    """Exact decimal aggregate -> stable double."""
    return F.sum(expr).cast("double")


def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report (TPC-H Q1): scan-heavy groupBy agg.

    Reference capability parity: sk-dist has no SQL layer; this is the
    analytics engine the rebuild adds. Filter is pushed to the parquet
    scan; the two-column groupBy pre-aggregates map-side.
    """
    # parallel=True: pure scan-agg — the parallelism floor halves q1
    # (catalog._ensure_parallel; join-heavy queries skip it)
    li = load_table(spark, "lineitem", sf_dir, parallel=True)
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast(_DEC) - _dec("l_discount"))
    charge = disc_price * (F.lit(1).cast(_DEC) + _dec("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.to_timestamp(F.lit("2001-09-01")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            _money(_dec("l_extendedprice")).alias("sum_base_price"),
            _money(disc_price).alias("sum_disc_price"),
            _money(charge).alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            (F.sum(_dec("l_discount")).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping priority (TPC-H Q3, adapted: no l_shippriority column).

    customer is filtered before the join so only the BUILDING segment
    shuffles; top-10 via orderBy+limit (Spark TakeOrderedAndProject —
    no full sort at scale).
    """
    cust = load_table(spark, "customer", sf_dir).where(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, "orders", sf_dir).where(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-03-15"))
    )
    li = load_table(spark, "lineitem", sf_dir).where(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1998-03-15"))
    )
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(_DEC) - _dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_money(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local supplier volume (TPC-H Q5): 6-way join; dims broadcast."""
    region = F.broadcast(load_table(spark, "region", sf_dir).where(F.col("r_name") == "ASIA"))
    nation = F.broadcast(load_table(spark, "nation", sf_dir))
    supplier = F.broadcast(load_table(spark, "supplier", sf_dir))
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir).where(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    li = load_table(spark, "lineitem", sf_dir)
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(_DEC) - _dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supplier, (li.l_suppkey == supplier.s_suppkey) & (cust.c_nationkey == supplier.s_nationkey))
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_money(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


def q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting revenue change (TPC-H Q6): pure scan+filter+agg.

    All three predicates reach the parquet reader (PushedFilters)."""
    li = load_table(spark, "lineitem", sf_dir, parallel=True)  # pure scan-agg
    return (
        li.where(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(_money(_dec("l_extendedprice") * _dec("l_discount")).alias("revenue"))
    )


def q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order priority checking (TPC-H Q4, adapted: no l_commitdate /
    l_receiptdate in the reduced schema — the EXISTS predicate counts
    orders with at least one returned lineitem instead).

    The EXISTS becomes a LEFT SEMI join: lineitem is pre-filtered and
    projected to the single join key before the shuffle, so only
    (l_orderkey) rows move; Catalyst deduplicates semi-join build rows.
    """
    orders = load_table(spark, "orders", sf_dir).where(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-04-01")))
    )
    returned = (
        load_table(spark, "lineitem", sf_dir)
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume shipping (TPC-H Q7): bilateral trade NATION_1<->NATION_2
    (the synthetic catalog's nation names)."""
    nation = F.broadcast(load_table(spark, "nation", sf_dir))
    supplier = F.broadcast(load_table(spark, "supplier", sf_dir))
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir).where(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") <= F.to_timestamp(F.lit("1997-12-31")))
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    volume = _dec("l_extendedprice") * (F.lit(1).cast(_DEC) - _dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(n1, supplier.s_nationkey == F.col("n1_key"))
        .join(n2, cust.c_nationkey == F.col("n2_key"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_money(volume).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (TPC-H Q8): NATION_1 suppliers' share of
    ECONOMY-part revenue sold into the ASIA market, by order year.

    Shape: fact(lineitem) joined to filtered broadcast dims (part,
    supplier, nation, region); the conditional-share numerator is a
    CASE inside one aggregate pass — no second scan/join.
    """
    part = F.broadcast(
        load_table(spark, "part", sf_dir).where(F.col("p_type") == "ECONOMY")
    )
    supplier = F.broadcast(load_table(spark, "supplier", sf_dir))
    nation = load_table(spark, "nation", sf_dir)
    n_supp = F.broadcast(
        nation.select(F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation"))
    )
    n_cust = F.broadcast(
        nation.select(F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("cust_regionkey"))
    )
    region = F.broadcast(load_table(spark, "region", sf_dir).where(F.col("r_name") == "ASIA"))
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir).where(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    li = load_table(spark, "lineitem", sf_dir)
    volume = _dec("l_extendedprice") * (F.lit(1).cast(_DEC) - _dec("l_discount"))
    target = F.when(F.col("supp_nation") == "NATION_1", volume).otherwise(F.lit(0).cast(_DEC))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(n_supp, supplier.s_nationkey == F.col("ns_key"))
        .join(n_cust, cust.c_nationkey == F.col("nc_key"))
        .join(region, F.col("cust_regionkey") == region.r_regionkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (F.sum(target).cast("double") / F.sum(volume).cast("double")).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product type profit (TPC-H Q9, adapted: no partsupp table, so
    supply cost is proxied by p_retailprice * l_quantity * 0.10).

    Profit per supplier nation per year over parts whose name contains
    'gear' (the synthetic catalog's noun vocabulary; same ~13%
    selectivity as the canonical '%green%'). part is broadcast after
    the LIKE filter; the single wide fact pass aggregates map-side
    before the (supp_nation, o_year) shuffle.
    """
    part = F.broadcast(
        load_table(spark, "part", sf_dir).where(F.col("p_name").contains("gear"))
    )
    supplier = F.broadcast(load_table(spark, "supplier", sf_dir))
    nation = F.broadcast(load_table(spark, "nation", sf_dir))
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    amount = _dec("l_extendedprice") * (F.lit(1).cast(_DEC) - _dec("l_discount")) - (
        _dec("p_retailprice") * _dec("l_quantity") * F.lit("0.10").cast("decimal(18,2)")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("supp_nation"), F.year("o_orderdate").alias("o_year"))
        .agg(_money(amount).alias("sum_profit"))
        .orderBy("supp_nation", F.desc("o_year"))
    )


def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned item reporting (TPC-H Q10): top-20 customers by lost revenue."""
    nation = F.broadcast(load_table(spark, "nation", sf_dir))
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir).where(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-04-01")))
    )
    li = load_table(spark, "lineitem", sf_dir).where(F.col("l_returnflag") == "R")
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(_DEC) - _dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_money(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority shipping (TPC-H Q12 adapted: l_shipmode doesn't exist;
    classify by l_returnflag instead, counting urgent-priority orders)."""
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir).where(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    high = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(F.lit(1) - high).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13): LEFT OUTER join
    preserving order-less customers, then a histogram of the counts.

    Two aggregations: the first shuffles on c_custkey (high cardinality,
    even); the second on c_count is tiny. No driver-side work.
    """
    cust = load_table(spark, "customer", sf_dir).select("c_custkey")
    orders = load_table(spark, "orders", sf_dir).select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion effect (TPC-H Q14): conditional revenue ratio."""
    part = F.broadcast(load_table(spark, "part", sf_dir))
    li = load_table(spark, "lineitem", sf_dir).where(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-06-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-07-01")))
    )
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(_DEC) - _dec("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", revenue).otherwise(F.lit(0).cast(_DEC))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0) * F.sum(promo).cast("double") / F.sum(revenue).cast("double")
            ).alias("promo_revenue")
        )
    )


def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier (TPC-H Q15): supplier(s) with the maximum quarterly
    revenue.

    The max is matched on the EXACT decimal aggregate (cast to double
    only in the output), so the equality predicate is deterministic in
    both engines regardless of aggregation order. The 1-row max is
    broadcast — no second shuffle of the revenue table.
    """
    li = load_table(spark, "lineitem", sf_dir).where(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-04-01")))
    )
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(_DEC) - _dec("l_discount"))
    rev = li.groupBy("l_suppkey").agg(F.sum(revenue).alias("rev_dec"))
    mx = rev.agg(F.max("rev_dec").alias("mx"))
    supplier = F.broadcast(load_table(spark, "supplier", sf_dir))
    return (
        rev.join(F.broadcast(mx), rev.rev_dec == F.col("mx"))
        .join(supplier, rev.l_suppkey == supplier.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("rev_dec").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts/supplier relationship (TPC-H Q16, adapted: no partsupp —
    the observed part-supplier relation is derived from lineitem).

    Distinct supplier count per (brand, type, size) bucket excluding
    one brand. The (l_partkey, l_suppkey) projection is deduplicated
    BEFORE the part join so the join input is bounded by the true
    relation size, not lineitem cardinality.
    """
    part = F.broadcast(
        load_table(spark, "part", sf_dir).where(F.col("p_brand") != "Brand#1")
    )
    ps = (
        load_table(spark, "lineitem", sf_dir)
        .select("l_partkey", "l_suppkey")
        .dropDuplicates(["l_partkey", "l_suppkey"])
    )
    return (
        ps.join(part, ps.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (TPC-H Q17): lineitems below 20% of
    their part's average quantity, for one brand.

    The correlated AVG subquery becomes a per-part aggregate joined
    back; the threshold test ``qty < 0.2 * avg(qty)`` is algebraically
    rewritten to ``5 * qty * cnt < sum_qty`` so it evaluates in EXACT
    decimal arithmetic — no float-rounding disagreement at the boundary.
    """
    part = F.broadcast(
        load_table(spark, "part", sf_dir)
        .where(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    brand_li = li.join(part, li.l_partkey == part.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    per_part = brand_li.groupBy(F.col("l_partkey").alias("pp_key")).agg(
        F.sum(_dec("l_quantity")).alias("sum_qty_pp"),
        F.count(F.lit(1)).alias("cnt_pp"),
    )
    small = (
        brand_li.join(F.broadcast(per_part), brand_li.l_partkey == F.col("pp_key"))
        .where(
            F.lit(5).cast(_DEC) * _dec("l_quantity") * F.col("cnt_pp").cast(_DEC)
            < F.col("sum_qty_pp")
        )
    )
    return small.agg(
        (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias("avg_yearly")
    )


def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large volume customer (TPC-H Q18): groupBy-HAVING semi-join."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"))
        .where(F.col("sum_qty") > 180)
    )
    return (
        big_orders.join(orders, big_orders.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue (TPC-H Q19): disjunctive multi-predicate join."""
    part = F.broadcast(load_table(spark, "part", sf_dir))
    li = load_table(spark, "lineitem", sf_dir)
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(_DEC) - _dec("l_discount"))
    joined = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 15)) & (F.col("l_quantity").between(1, 11)))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size").between(1, 25)) & (F.col("l_quantity").between(10, 20)))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size").between(1, 35)) & (F.col("l_quantity").between(20, 30)))
    )
    return joined.where(cond).agg(_money(revenue).alias("revenue"))


def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who kept orders waiting (TPC-H Q21, adapted: no
    commit/receipt dates — "late" is proxied by a returned lineitem).

    Suppliers with a returned lineitem on a multi-supplier order where
    NO other supplier on that order also had a return: the canonical
    EXISTS / NOT EXISTS pair becomes a LEFT SEMI + LEFT ANTI join
    cascade, all on the l_orderkey equi-key (shuffle-join friendly;
    no correlated per-row subquery execution).
    """
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    supplier = F.broadcast(load_table(spark, "supplier", sf_dir))
    l1 = li.where(F.col("l_returnflag") == "R").select(
        "l_orderkey", F.col("l_suppkey").alias("s1")
    ).dropDuplicates(["l_orderkey", "s1"])
    # EXISTS: another supplier on the same order
    l2 = li.select("l_orderkey", F.col("l_suppkey").alias("s2")).dropDuplicates()
    has_other = l1.join(
        l2,
        (l1.l_orderkey == l2.l_orderkey) & (F.col("s1") != F.col("s2")),
        "left_semi",
    )
    # NOT EXISTS: another supplier on the same order who ALSO returned
    l3 = l1.select(F.col("l_orderkey").alias("o3"), F.col("s1").alias("s3"))
    sole_blame = has_other.join(
        l3,
        (has_other.l_orderkey == F.col("o3")) & (F.col("s1") != F.col("s3")),
        "left_anti",
    )
    return (
        sole_blame.join(supplier, F.col("s1") == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sales opportunity (TPC-H Q22, adapted: no c_phone column —
    grouped by nation instead of phone country code, and "never
    ordered" relaxed to "dormant since 2000" because the synthetic
    generator gives every customer at least one order).

    Dormant customers with above-average positive balance: the scalar
    average is a 1-row aggregate cross-broadcast (never collected to
    the driver), the comparison is the exact-decimal rewrite
    ``acctbal * cnt > sum``, and "no recent orders" is a LEFT ANTI
    join on a date-filtered key-only projection of orders.
    """
    cust = load_table(spark, "customer", sf_dir)
    stats = cust.where(F.col("c_acctbal") > 0).agg(
        F.sum(_dec("c_acctbal")).alias("bal_sum"),
        F.count(F.lit(1)).alias("bal_cnt"),
    )
    orders = (
        load_table(spark, "orders", sf_dir)
        .where(F.col("o_orderdate") >= F.to_timestamp(F.lit("2000-01-01")))
        .select("o_custkey")
    )
    nation = F.broadcast(load_table(spark, "nation", sf_dir))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .crossJoin(F.broadcast(stats))
        .where(_dec("c_acctbal") * F.col("bal_cnt").cast(_DEC) > F.col("bal_sum"))
        .join(nation, F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# DuckDB oracle SQL — same semantics, same aliases, same decimal contract.
# ---------------------------------------------------------------------------

def _supply_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapted partsupp: the schema has no partsupp table, so q2/q11/q20
    derive a supply relation from lineitem — supplycost proxy = min unit
    price, availqty proxy = total shipped quantity.

    Determinism: the unit price is floored to integer MICROS first
    (``floor((price * 1e6) / qty)`` — the same IEEE double ops in both
    engines, then an exact integer), and only then converted to DECIMAL
    via an exact decimal multiply. ``round(double, n)`` is NOT used:
    Spark rounds the double's exact decimal expansion while DuckDB
    rounds via float arithmetic, and they disagree at scale-4
    boundaries often enough to corrupt sums.
    """
    li = load_table(spark, "lineitem", sf_dir)
    unit_micros = F.floor(
        (F.col("l_extendedprice") * F.lit(1000000.0)) / F.col("l_quantity")
    )
    # repartition by PARTKEY ALONE before the (partkey, suppkey) groupBy:
    # hash(pk) satisfies the grouping's clustered distribution, so the
    # aggregate adds NO exchange — and every consumer keyed on ps_partkey
    # (q2's window, q11's re-aggregation, q20's part joins) reuses the
    # same partitioning. Measured 2.6x on the q2 shape at sf0.1.
    return (
        li.repartition("l_partkey")
        .groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(
            (
                F.min(unit_micros).cast("decimal(18,0)")
                * F.lit("0.000001").cast("decimal(8,6)")
            ).alias("ps_supplycost"),
            F.sum(_dec("l_quantity")).alias("ps_availqty"),
        )
    )


_PS_SQL = """
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               CAST(MIN(CAST(FLOOR((l_extendedprice * 1000000.0) / l_quantity) AS BIGINT)) AS DECIMAL(18,0))
                   * CAST(0.000001 AS DECIMAL(8,6)) AS ps_supplycost,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS ps_availqty
        FROM lineitem GROUP BY 1, 2
"""


def q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost supplier (TPC-H Q2, adapted: supply relation derived
    from lineitem; filter p_size=15, p_type=LARGE, region EUROPE).

    Plan shape: the supply relation is the only big input; part /
    supplier / nation / region are broadcast. The per-part minimum is a
    window over ps_partkey — one shuffle, reused by the equality filter
    (vs the classic correlated-subquery rewrite's second join).
    """
    ps = _supply_relation(spark, sf_dir)
    part = F.broadcast(
        load_table(spark, "part", sf_dir).where(
            (F.col("p_size") == 15) & (F.col("p_type") == "LARGE")
        )
    )
    supplier = F.broadcast(load_table(spark, "supplier", sf_dir))
    nation = F.broadcast(load_table(spark, "nation", sf_dir))
    region = F.broadcast(
        load_table(spark, "region", sf_dir).where(F.col("r_name") == "EUROPE")
    )
    from pyspark.sql import Window

    eu = (
        ps.join(supplier, ps.ps_suppkey == supplier.s_suppkey)
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .join(part, ps.ps_partkey == part.p_partkey)
    )
    w = Window.partitionBy("ps_partkey")
    return (
        eu.withColumn("min_cost", F.min("ps_supplycost").over(w))
        .where(F.col("ps_supplycost") == F.col("min_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.col("ps_supplycost").cast("double").alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important stock identification (TPC-H Q11, adapted: supply
    relation from lineitem; nations NATION_3/NATION_8 stand in for the
    single-nation filter).

    The scalar threshold (0.1% of total stock value) is computed once
    and broadcast into the HAVING — exact decimal arithmetic end-to-end
    so the Spark and DuckDB inequality decisions are identical.
    """
    ps = _supply_relation(spark, sf_dir)
    supplier = F.broadcast(load_table(spark, "supplier", sf_dir))
    nation = F.broadcast(
        load_table(spark, "nation", sf_dir).where(
            F.col("n_name").isin("NATION_3", "NATION_8")
        )
    )
    scoped = (
        ps.join(supplier, ps.ps_suppkey == supplier.s_suppkey)
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .withColumn("stock_value", F.col("ps_supplycost") * F.col("ps_availqty"))
    )
    total = scoped.agg(
        (F.sum("stock_value") * F.lit(0.001).cast("decimal(10,4)")).alias("threshold")
    )
    return (
        scoped.groupBy("ps_partkey")
        .agg(F.sum("stock_value").alias("part_value"))
        .join(F.broadcast(total))
        .where(F.col("part_value") > F.col("threshold"))
        .select("ps_partkey", F.col("part_value").cast("double").alias("part_value"))
        .orderBy(F.desc("part_value"), "ps_partkey")
    )


def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential part promotion (TPC-H Q20, adapted: supply relation
    from lineitem, p_name LIKE 'red%', ship-year 1997, nations in ASIA).

    Semi-join cascade: red parts (broadcast) -> their supply rows ->
    1997 shipped quantity per (part, supp) -> availqty > 0.5 * shipped
    -> DISTINCT suppliers -> semi-join suppliers in ASIA. Every join is
    an equi-join; the quantity comparison is exact decimal.
    """
    ps = _supply_relation(spark, sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    red_parts = F.broadcast(
        load_table(spark, "part", sf_dir)
        .where(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    # same partkey-only repartition as _supply_relation: the ps-shipped
    # sort-merge join then sees both sides hash(pk)-co-partitioned and
    # adds no exchange of its own
    shipped = (
        li.where(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
        )
        .repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("shipped_qty"))
    )
    qualifying = (
        ps.join(red_parts, ps.ps_partkey == F.col("p_partkey"))
        .join(
            shipped,
            (ps.ps_partkey == shipped.l_partkey) & (ps.ps_suppkey == shipped.l_suppkey),
        )
        .where(
            F.col("ps_availqty")
            > F.lit(0.5).cast("decimal(10,4)") * F.col("shipped_qty")
        )
        .select("ps_suppkey")
        .distinct()
    )
    supplier = load_table(spark, "supplier", sf_dir)
    nation = F.broadcast(
        load_table(spark, "nation", sf_dir).where(F.col("n_name").isin(
            "NATION_2", "NATION_7", "NATION_12", "NATION_17", "NATION_22"
        ))
    )
    return (
        supplier.join(nation, supplier.s_nationkey == nation.n_nationkey)
        .join(qualifying, supplier.s_suppkey == qualifying.ps_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


def bloom_semi_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority totals for BUILDING-segment customers, with the
    orders scan pruned by a broadcast Bloom filter of the segment's
    custkeys BEFORE any shuffle (operators.joins.bloom_semi_join).

    The result is exact — bloom false positives are removed by the
    final semi-join — so it oracle-matches the plain semi-join SQL.
    At 100 TB the bloom probe drops ~80% of orders at the scan instead
    of shuffling them.
    """
    from ..operators.joins import bloom_semi_join

    orders = load_table(spark, "orders", sf_dir)
    building = load_table(spark, "customer", sf_dir).where(
        F.col("c_mktsegment") == "BUILDING"
    )
    pruned = bloom_semi_join(orders, building, "o_custkey", "c_custkey")
    return (
        pruned.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_sales"),
        )
        .orderBy("o_orderpriority")
    )


def setops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operator coverage: customers who ordered in 1996 vs 1997 —
    INTERSECT (both years), EXCEPT (1996 only), UNION (either) sizes.
    Spark compiles these to aggregate/join shapes; one row out."""
    orders = load_table(spark, "orders", sf_dir)

    def year_custs(y: int, flag: str) -> DataFrame:
        return (
            orders.where(F.year("o_orderdate") == y)
            .select("o_custkey")
            .distinct()
            .withColumn(flag, F.lit(1))
        )

    c96 = year_custs(1996, "in96")
    c97 = year_custs(1997, "in97")
    # one full-outer join computes all three set sizes in a single job
    # (INTERSECT/EXCEPT/UNION as flag aggregates — the same physical
    # shape Catalyst lowers the set operators to, minus two extra scans)
    return c96.join(c97, "o_custkey", "full_outer").agg(
        F.sum(
            F.when(F.col("in96").isNotNull() & F.col("in97").isNotNull(), 1).otherwise(0)
        ).cast("int").alias("n_both"),
        F.sum(
            F.when(F.col("in96").isNotNull() & F.col("in97").isNull(), 1).otherwise(0)
        ).cast("int").alias("n_only_1996"),
        F.count(F.lit(1)).cast("int").alias("n_either"),
    )


def fuzzy_part_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching: part-name pairs within edit distance 2
    among parts sharing (p_type, p_size) — candidate generation by the
    PassJoin segment pigeonhole (operators/setsim.py
    ``edit_distance_join``), NOT a (p_type, p_size) block join: the
    old blocking key had ~7,500 distinct values, so in-block pair
    counts grew quadratically with data (BENCH_SCALE r5 slope 8.1);
    the segment equi-join carries name-text entropy and is linear in
    rows, with the same lossless result (the brute-force DuckDB
    oracle pins that at every SF)."""
    from ..operators.setsim import edit_distance_join

    part = load_table(spark, "part", sf_dir).select(
        "p_partkey", "p_name", "p_type", "p_size"
    )
    return (
        edit_distance_join(
            part, "p_partkey", "p_name", max_dist=2,
            block_cols=("p_type", "p_size"),
        )
        .select(
            F.col("id_a").alias("part_a"),
            F.col("id_b").alias("part_b"),
            "edit_dist",
        )
        .orderBy("part_a", "part_b")
    )


def part_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution as a composition of the audited pieces:
    blocked fuzzy match (edit distance <= 2 within (type, size)
    blocks) generates the match graph, connected components merges
    transitive matches into one entity, and the canonical record is
    the min partkey per cluster — the dedupe-then-survivorship shape
    every MDM pipeline runs.  Emits every part that participates in a
    fuzzy cluster with its entity id, cluster size, and canonical
    flag.  Scale posture inherits from the parts: candidate pairs are
    block-bounded and CC label propagation shuffles the pair graph,
    never part x part.
    """
    from ..operators.graph import connected_components

    pairs = fuzzy_part_match(spark, sf_dir)
    cc = connected_components(pairs, "part_a", "part_b")
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        cc.join(sizes, "cluster_id")
        .select(
            F.col("node").alias("p_partkey"),
            F.col("cluster_id").alias("entity_id"),
            F.col("n_members").cast("int").alias("n_members"),
            (F.col("node") == F.col("cluster_id")).alias("is_canonical"),
        )
        .orderBy("p_partkey")
    )


_ENTITY_RESOLUTION_SQL = """
    WITH RECURSIVE pairs AS (
        SELECT a.p_partkey AS part_a, b.p_partkey AS part_b
        FROM part a JOIN part b
          ON a.p_type = b.p_type AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey
         AND ABS(LENGTH(a.p_name) - LENGTH(b.p_name)) <= 2
        WHERE levenshtein(a.p_name, b.p_name) <= 2
    ),
    edges AS (
        SELECT part_a AS a, part_b AS b FROM pairs
        UNION ALL
        SELECT part_b AS a, part_a AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, lbl) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.b AS node, r.lbl
        FROM reach r JOIN edges e ON e.a = r.node
    ),
    cc AS (
        SELECT node, MIN(lbl) AS entity_id FROM reach GROUP BY node
    ),
    sizes AS (
        SELECT entity_id, COUNT(*) AS n_members FROM cc GROUP BY entity_id
    )
    SELECT cc.node AS p_partkey, cc.entity_id,
           CAST(s.n_members AS INTEGER) AS n_members,
           cc.node = cc.entity_id AS is_canonical
    FROM cc JOIN sizes s USING (entity_id)
    ORDER BY p_partkey
"""


BASKET_MIN_COOC = 2
BASKET_TOP = 50


def _basket_pairs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The basket faces' shared input: ``op``, the distinct (l_orderkey,
    l_partkey) rows, and the co-purchase pairs with n_ab >=
    BASKET_MIN_COOC joined to each part's order count, as
    (part_b, part_a, n_ab, n_a, n_b)."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    # EAGER checkpoint: op feeds both self-join sides plus the part
    # and total aggregates — without it each reference re-ran the
    # lineitem scan + distinct shuffle (snapshot: 4-5 FileScans).
    op = li.distinct().localCheckpoint(eager=True)
    part_counts = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_part"))
    pairs = (
        _copurchase_pairs(op, BASKET_MIN_COOC)
        .join(
            part_counts.select(
                F.col("l_partkey").alias("part_a"), F.col("n_part").alias("n_a")
            ),
            "part_a",
        )
        .join(
            part_counts.select(
                F.col("l_partkey").alias("part_b"), F.col("n_part").alias("n_b")
            ),
            "part_b",
        )
    )
    return op, pairs


def basket_part_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis: part pairs that co-occur in the same
    order more often than chance, ranked by lift = P(a,b)/(P(a)P(b)).

    Plan: distinct (order, part) is pre-aggregated FIRST so the
    self-join joins two copies of a frame already shuffled on
    l_orderkey (one exchange, reused by merge hint); pair generation
    never leaves the order group, so fan-out is bounded by basket
    size squared — the defining property that keeps this tractable at
    100 TB (baskets are small; the catalog is huge).  Part frequencies
    are a second agg over the same distinct frame; the tiny totals row
    is broadcast.  Deterministic top-50 by (lift, n_ab, part ids) via
    TakeOrderedAndProject.
    """
    op, pairs = _basket_pairs(spark, sf_dir)
    totals = op.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    return (
        pairs.crossJoin(F.broadcast(totals))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.round(
                (F.col("n_ab").cast("double") * F.col("n_orders"))
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.desc("n_ab"), "part_a", "part_b")
        .limit(BASKET_TOP)
    )


ORACLE_BASKET = f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_ab
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= {BASKET_MIN_COOC}
    ), pc AS (
        SELECT l_partkey, COUNT(*) AS n_part FROM op GROUP BY 1
    ), totals AS (
        SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op
    )
    SELECT part_a, part_b, n_ab,
           ROUND((n_ab::DOUBLE * n_orders) / (pa.n_part::DOUBLE * pb.n_part), 6)
               AS lift
    FROM pairs
    JOIN pc pa ON pa.l_partkey = part_a
    JOIN pc pb ON pb.l_partkey = part_b
    CROSS JOIN totals
    ORDER BY lift DESC, n_ab DESC, part_a, part_b
    LIMIT {BASKET_TOP}
"""


ORACLE_SQL: dict[str, str] = {
    "setops_customers": """
        WITH c96 AS (SELECT DISTINCT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996),
             c97 AS (SELECT DISTINCT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997)
        SELECT
            CAST((SELECT COUNT(*) FROM (SELECT * FROM c96 INTERSECT SELECT * FROM c97)) AS INTEGER) AS n_both,
            CAST((SELECT COUNT(*) FROM (SELECT * FROM c96 EXCEPT SELECT * FROM c97)) AS INTEGER) AS n_only_1996,
            CAST((SELECT COUNT(*) FROM (SELECT * FROM c96 UNION SELECT * FROM c97)) AS INTEGER) AS n_either
    """,
    "part_entity_resolution": _ENTITY_RESOLUTION_SQL,
    "fuzzy_part_match": """
        SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
               CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
        FROM part a JOIN part b
          ON a.p_type = b.p_type AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey
         AND ABS(LENGTH(a.p_name) - LENGTH(b.p_name)) <= 2
        WHERE levenshtein(a.p_name, b.p_name) <= 2
        ORDER BY part_a, part_b
    """,
    "q2": f"""
        WITH ps AS ({_PS_SQL}),
        eu AS (
            SELECT ps.*, s_acctbal, s_name, n_name, p_partkey, p_name
            FROM ps
            JOIN supplier ON ps_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
            JOIN part ON ps_partkey = p_partkey AND p_size = 15 AND p_type = 'LARGE'
        )
        SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
               CAST(ps_supplycost AS DOUBLE) AS supplycost
        FROM (SELECT *, MIN(ps_supplycost) OVER (PARTITION BY ps_partkey) AS min_cost FROM eu)
        WHERE ps_supplycost = min_cost
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
    """,
    "q11": f"""
        WITH ps AS ({_PS_SQL}),
        scoped AS (
            SELECT ps_partkey, ps_supplycost * ps_availqty AS stock_value
            FROM ps
            JOIN supplier ON ps_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey AND n_name IN ('NATION_3', 'NATION_8')
        )
        SELECT ps_partkey, CAST(SUM(stock_value) AS DOUBLE) AS part_value
        FROM scoped
        GROUP BY ps_partkey
        HAVING SUM(stock_value) > (SELECT SUM(stock_value) * CAST(0.001 AS DECIMAL(10,4)) FROM scoped)
        ORDER BY part_value DESC, ps_partkey
    """,
    "q20": f"""
        WITH ps AS ({_PS_SQL}),
        shipped AS (
            SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS shipped_qty
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
            GROUP BY 1, 2
        ),
        qualifying AS (
            SELECT DISTINCT ps_suppkey
            FROM ps
            JOIN part ON ps_partkey = p_partkey AND p_name LIKE 'red%'
            JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
            WHERE ps_availqty > CAST(0.5 AS DECIMAL(10,4)) * shipped_qty
        )
        SELECT s_name, s_acctbal
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
             AND n_name IN ('NATION_2', 'NATION_7', 'NATION_12', 'NATION_17', 'NATION_22')
        WHERE s_suppkey IN (SELECT ps_suppkey FROM qualifying)
        ORDER BY s_name
    """,
    "bloom_semi_sales": """
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "q1": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
               CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "q3": """
        SELECT l_orderkey, o_orderdate,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate > TIMESTAMP '1998-03-15'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "q5": """
        SELECT n_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    "q6": """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "q4": """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1997-04-01'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
          )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "q7": """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
          AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """,
    "q8": """
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
               CAST(SUM(CASE WHEN n1.n_name = 'NATION_1'
                         THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS mkt_share
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        JOIN region ON n2.n_regionkey = r_regionkey
        WHERE p_type = 'ECONOMY'
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY o_year
        ORDER BY o_year
    """,
    "q9": """
        SELECT n_name AS supp_nation,
               CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                        - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) * CAST(0.10 AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%gear%'
        GROUP BY supp_nation, o_year
        ORDER BY supp_nation, o_year DESC
    """,
    "q10": """
        SELECT c_custkey, c_name, c_acctbal, n_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1997-04-01'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    "q12": """
        SELECT l_returnflag,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    "q13": """
        SELECT c_count, COUNT(*) AS custdist
        FROM (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
        )
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    "q14": """
        SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS promo_revenue
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-06-01'
          AND l_shipdate < TIMESTAMP '1997-07-01'
    """,
    "q15": """
        WITH rev AS (
            SELECT l_suppkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev_dec
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1997-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
        FROM rev
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE rev_dec = (SELECT MAX(rev_dec) FROM rev)
        ORDER BY s_suppkey
    """,
    "q16": """
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1'
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    "q17": """
        WITH brand_li AS (
            SELECT l_partkey, l_quantity, l_extendedprice
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#1'
        ), per_part AS (
            SELECT l_partkey AS pp_key,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty_pp,
                   COUNT(*) AS cnt_pp
            FROM brand_li GROUP BY l_partkey
        )
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
        FROM brand_li JOIN per_part ON l_partkey = pp_key
        WHERE CAST(5 AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) * CAST(cnt_pp AS DECIMAL(18,2)) < sum_qty_pp
    """,
    "q18": """
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
        FROM (
            SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
            FROM lineitem GROUP BY l_orderkey
        ) big
        JOIN orders ON big.l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE sum_qty > 180
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100
    """,
    "q19": """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
    """,
    "q21": """
        WITH l1 AS (
            SELECT DISTINCT l_orderkey, l_suppkey AS s1
            FROM lineitem WHERE l_returnflag = 'R'
        )
        SELECT s_name, COUNT(*) AS numwait
        FROM l1
        JOIN supplier ON s1 = s_suppkey
        WHERE EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey != l1.s1
        )
        AND NOT EXISTS (
            SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey != l1.s1
              AND l3.l_returnflag = 'R'
        )
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
    """,
    "q22": """
        WITH stats AS (
            SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS bal_sum, COUNT(*) AS bal_cnt
            FROM customer WHERE c_acctbal > 0
        )
        SELECT n_name, COUNT(*) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        FROM customer, stats
        JOIN nation ON c_nationkey = n_nationkey
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '2000-01-01')
          AND CAST(c_acctbal AS DECIMAL(18,2)) * CAST(bal_cnt AS DECIMAL(18,2)) > bal_sum
        GROUP BY n_name
        ORDER BY n_name
    """,
}

def shipping_delay_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship delay distribution per order priority: exact
    p50/p90/max of datediff(l_shipdate, o_orderdate) — the fulfillment
    SLA view, and the suite's fact-to-fact join exemplar.

    Plan: both fact tables shuffle once on the order key (sort-merge;
    neither side is broadcastable at scale), delays are computed
    map-side post-join, and the percentile aggregation groups on the
    LOW-cardinality priority key.  Negative delays (data-quality
    escapes) are excluded so the SLA numbers mean what they say.
    """
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    delays = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            "o_orderpriority",
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias(
                "delay_days"
            ),
        )
        .where(F.col("delay_days") >= 0)
    )
    return (
        delays.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.expr("percentile(delay_days, 0.5)").alias("p50_delay"),
            F.expr("percentile(delay_days, 0.9)").alias("p90_delay"),
            F.max("delay_days").alias("max_delay"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_SHIPPING_DELAY = """
    WITH d AS (
        SELECT o_orderpriority,
               date_diff('day', CAST(o_orderdate AS DATE),
                         CAST(l_shipdate AS DATE)) AS delay_days
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    )
    SELECT o_orderpriority,
           COUNT(*) AS n_lineitems,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY delay_days) AS p50_delay,
           percentile_cont(0.9) WITHIN GROUP (ORDER BY delay_days) AS p90_delay,
           MAX(delay_days) AS max_delay
    FROM d WHERE delay_days >= 0
    GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

ORACLE_SQL["basket_part_affinity"] = ORACLE_BASKET
ORACLE_SQL["shipping_delay_percentiles"] = ORACLE_SHIPPING_DELAY

def supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration metrics over supplier revenue: the
    Herfindahl-Hirschman index (sum of squared revenue shares, the
    antitrust-standard 0..10000 scale) plus top-1 and top-4 shares in
    integer ppm.

    Exact-cents discipline end to end: per-supplier revenue sums in
    DECIMAL, cents and cents^2 totals stay exact integers, and only
    the final HHI ratio is DOUBLE (rounded 6).  Top-k shares come from
    a TakeOrderedAndProject over the aggregated supplier frame.
    """
    li = load_table(spark, "lineitem", sf_dir)
    per_supp = (
        li.groupBy("l_suppkey")
        .agg(
            F.expr(
                "CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))"
                " * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,4)) * 100 AS DECIMAL(38,0))"
            ).alias("cents")
        )
    )
    totals = per_supp.agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("cents").alias("tot"),
        F.sum(F.expr("cents * cents").cast("decimal(38,0)")).alias("sumsq"),
    )
    top = (
        per_supp.orderBy(F.desc("cents"), F.asc("l_suppkey"))
        .limit(4)
        .agg(
            F.max("cents").alias("top1_cents"),
            F.sum("cents").alias("top4_cents"),
        )
    )
    hhi = "(CAST(sumsq AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE))) * 10000.0D"
    return (
        totals.crossJoin(F.broadcast(top))
        .select(
            "n_suppliers",
            F.expr(f"ROUND({hhi}, 6)").alias("hhi"),
            F.expr("CAST(top1_cents AS BIGINT) * 1000000 div CAST(tot AS BIGINT)").alias("top1_share_ppm"),
            F.expr("CAST(top4_cents AS BIGINT) * 1000000 div CAST(tot AS BIGINT)").alias("top4_share_ppm"),
        )
    )


ORACLE_SQL_SUPPLIER_CONCENTRATION = """
    WITH per_supp AS (
        SELECT l_suppkey,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,4)) * 100
                    AS DECIMAL(38,0)) AS cents
        FROM lineitem GROUP BY l_suppkey
    ), totals AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               CAST(SUM(cents) AS DECIMAL(38,0)) AS tot,
               CAST(SUM(cents * cents) AS DECIMAL(38,0)) AS sumsq
        FROM per_supp
    ), top AS (
        SELECT MAX(cents) AS top1_cents, SUM(cents) AS top4_cents FROM (
            SELECT cents FROM per_supp ORDER BY cents DESC, l_suppkey ASC LIMIT 4
        )
    )
    SELECT n_suppliers,
           ROUND((CAST(sumsq AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE))) * 10000.0, 6) AS hhi,
           CAST(top1_cents AS BIGINT) * 1000000 // CAST(tot AS BIGINT) AS top1_share_ppm,
           CAST(top4_cents AS BIGINT) * 1000000 // CAST(tot AS BIGINT) AS top4_share_ppm
    FROM totals CROSS JOIN top
"""

QUERIES = {
    "q1": q1,
    "supplier_concentration": supplier_concentration,
    "basket_part_affinity": basket_part_affinity,
    "shipping_delay_percentiles": shipping_delay_percentiles,
    "q2": q2,
    "q3": q3,
    "q4": q4,
    "q5": q5,
    "q6": q6,
    "q7": q7,
    "q8": q8,
    "q9": q9,
    "q10": q10,
    "q11": q11,
    "q12": q12,
    "q13": q13,
    "q14": q14,
    "q15": q15,
    "q16": q16,
    "q17": q17,
    "q18": q18,
    "q19": q19,
    "q20": q20,
    "q21": q21,
    "q22": q22,
    "bloom_semi_sales": bloom_semi_sales,
    "setops_customers": setops_customers,
    "fuzzy_part_match": fuzzy_part_match,
    "part_entity_resolution": part_entity_resolution,
}

ORACLE_SQL["supplier_concentration"] = ORACLE_SQL_SUPPLIER_CONCENTRATION


def part_cf_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering similarity: co-purchase cosine
    sim(a,b) = n_ab / sqrt(n_a * n_b) over order baskets — the classic
    "customers also bought" scoring (degree-normalized, so popular
    parts can't dominate the way raw co-counts or even lift's
    rare-pair bias do).

    Reads the same ``_basket_pairs`` input as basket_part_affinity
    (pair fan-out bounded by basket size squared inside one reused
    order-key exchange); counts are exact integers, the cosine is the
    single DOUBLE step,
    top-50 via TakeOrderedAndProject with full deterministic
    tie-break.
    """
    _, pairs = _basket_pairs(spark, sf_dir)
    return (
        pairs.select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            F.expr(
                "ROUND(CAST(n_ab AS DOUBLE)"
                " / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)"
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.desc("n_ab"), "part_a", "part_b")
        .limit(BASKET_TOP)
    )


ORACLE_SQL["part_cf_similarity"] = f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pair_counts AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_ab
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {BASKET_MIN_COOC}
    ), part_counts AS (
        SELECT l_partkey, COUNT(*) AS n_part FROM op GROUP BY 1
    )
    SELECT part_a, part_b, n_ab, pa.n_part AS n_a, pb.n_part AS n_b,
           ROUND(CAST(n_ab AS DOUBLE)
                 / sqrt(CAST(pa.n_part AS DOUBLE) * CAST(pb.n_part AS DOUBLE)), 6) AS cosine
    FROM pair_counts
    JOIN part_counts pa ON pa.l_partkey = part_a
    JOIN part_counts pb ON pb.l_partkey = part_b
    ORDER BY cosine DESC, n_ab DESC, part_a, part_b
    LIMIT {BASKET_TOP}
"""

QUERIES["part_cf_similarity"] = part_cf_similarity


def blocking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme quality report for the entity-resolution
    pipeline: how much of the all-pairs space does the (p_type, p_size)
    blocking prune (reduction ratio), how skewed are the blocks, and
    how many verified fuzzy matches the candidates actually contain —
    the eval that justifies a blocking key before anyone runs the
    expensive verify at scale (companion to ``dedup_minhash_eval``).

    All counts are exact integers (pair counts via nb*(nb-1)/2, BIGINT
    division exact on even products); the reduction ratio is the only
    double, one division rounded to 6.  One scan for block sizes, the
    match count reuses the audited blocked fuzzy join.
    """
    part = load_table(spark, "part", sf_dir)
    blocks = part.groupBy("p_type", "p_size").agg(F.count(F.lit(1)).alias("nb"))
    stats = blocks.agg(
        F.sum("nb").alias("n_parts"),
        F.count(F.lit(1)).alias("n_blocks"),
        F.max("nb").alias("max_block"),
        F.sum(F.expr("nb * (nb - 1) / 2").cast("bigint")).alias("candidate_pairs"),
    )
    matches = fuzzy_part_match(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_matched_pairs")
    )
    return (
        stats.crossJoin(F.broadcast(matches))
        .select(
            "n_parts",
            "n_blocks",
            "max_block",
            "candidate_pairs",
            F.expr("n_parts * (n_parts - 1) / 2").cast("bigint").alias("total_pairs"),
            "n_matched_pairs",
            F.round(
                F.lit(1.0)
                - F.col("candidate_pairs").cast("double")
                / F.expr("n_parts * (n_parts - 1) / 2").cast("double"),
                6,
            ).alias("reduction_ratio"),
        )
    )


ORACLE_SQL["blocking_eval"] = """
    WITH blocks AS (
        SELECT p_type, p_size, CAST(COUNT(*) AS BIGINT) AS nb
        FROM part GROUP BY 1, 2
    ), stats AS (
        SELECT CAST(SUM(nb) AS BIGINT) AS n_parts,
               CAST(COUNT(*) AS BIGINT) AS n_blocks,
               CAST(MAX(nb) AS BIGINT) AS max_block,
               CAST(SUM(nb * (nb - 1) // 2) AS BIGINT) AS candidate_pairs
        FROM blocks
    ), matches AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_matched_pairs
        FROM part a JOIN part b
          ON a.p_type = b.p_type AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey
         AND ABS(LENGTH(a.p_name) - LENGTH(b.p_name)) <= 2
        WHERE levenshtein(a.p_name, b.p_name) <= 2
    )
    SELECT n_parts, n_blocks, max_block, candidate_pairs,
           CAST(n_parts * (n_parts - 1) // 2 AS BIGINT) AS total_pairs,
           n_matched_pairs,
           ROUND(1.0 - CAST(candidate_pairs AS DOUBLE)
                 / CAST(n_parts * (n_parts - 1) // 2 AS DOUBLE), 6)
               AS reduction_ratio
    FROM stats CROSS JOIN matches
"""

QUERIES["blocking_eval"] = blocking_eval


def revenue_change_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Why did revenue move? Per-segment volume/price/interaction
    decomposition of the 1996 -> 1997 revenue change:

        delta_s = (n1-n0)*aov0  +  n0*(aov1-aov0)  +  (n1-n0)*(aov1-aov0)
                   volume          price (AOV)         interaction

    — the contribution analysis every KPI review asks for when a
    topline moves.  Counts and revenue cents are exact integers from
    one (segment, year) aggregation; average order values are single
    double divisions; the three effects reconstruct the exact delta
    (asserted to rounding in the test suite).  One shuffle on the
    customer join key plus one on the segment-year group.
    """
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    j = orders.join(cust, orders["o_custkey"] == cust["c_custkey"]).where(
        F.year("o_orderdate").isin(1996, 1997)
    )
    g = j.groupBy("c_mktsegment").agg(
        F.sum(F.when(F.year("o_orderdate") == 1996, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.year("o_orderdate") == 1997, 1).otherwise(0)).alias("n1"),
        F.sum(
            F.when(
                F.year("o_orderdate") == 1996,
                F.expr("CAST(o_totalprice AS DECIMAL(18,2)) * 100"),
            ).otherwise(0)
        ).cast("long").alias("c0"),
        F.sum(
            F.when(
                F.year("o_orderdate") == 1997,
                F.expr("CAST(o_totalprice AS DECIMAL(18,2)) * 100"),
            ).otherwise(0)
        ).cast("long").alias("c1"),
    )
    aov0 = "(CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))"
    aov1 = "(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
    return g.select(
        F.col("c_mktsegment").alias("segment"),
        "n0",
        "n1",
        F.round(F.col("c0").cast("double") / 100.0, 2).alias("rev_1996"),
        F.round(F.col("c1").cast("double") / 100.0, 2).alias("rev_1997"),
        F.round((F.col("c1") - F.col("c0")).cast("double") / 100.0, 2).alias("delta"),
        F.expr(f"ROUND((n1 - n0) * {aov0} / 100.0, 6)").alias("volume_effect"),
        F.expr(f"ROUND(n0 * ({aov1} - {aov0}) / 100.0, 6)").alias("price_effect"),
        F.expr(f"ROUND((n1 - n0) * ({aov1} - {aov0}) / 100.0, 6)").alias(
            "interaction"
        ),
    ).orderBy("segment")


ORACLE_SQL["revenue_change_decomposition"] = """
    WITH g AS (
        SELECT c.c_mktsegment AS segment,
               CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1997 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996
                        THEN CAST(o_totalprice AS DECIMAL(18,2)) * 100 ELSE 0 END) AS BIGINT) AS c0,
               CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1997
                        THEN CAST(o_totalprice AS DECIMAL(18,2)) * 100 ELSE 0 END) AS BIGINT) AS c1
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE year(CAST(o_orderdate AS DATE)) IN (1996, 1997)
        GROUP BY 1
    )
    SELECT segment, n0, n1,
           ROUND(CAST(c0 AS DOUBLE) / 100.0, 2) AS rev_1996,
           ROUND(CAST(c1 AS DOUBLE) / 100.0, 2) AS rev_1997,
           ROUND(CAST(c1 - c0 AS DOUBLE) / 100.0, 2) AS delta,
           ROUND((n1 - n0) * (CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / 100.0, 6) AS volume_effect,
           ROUND(n0 * ((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                 - (CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))) / 100.0, 6) AS price_effect,
           ROUND((n1 - n0) * ((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                 - (CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))) / 100.0, 6) AS interaction
    FROM g ORDER BY segment
"""

QUERIES["revenue_change_decomposition"] = revenue_change_decomposition


# ---- frequent triples (Apriori candidate pruning) -------------------------

TRIPLE_MIN_SUPPORT = 2  # orders containing all three parts


def basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent part TRIPLES by the Apriori step: a triple can only be
    frequent if all three of its pairs are, so the basket self-join is
    pruned to parts that survive the frequent-PAIR pass — the candidate
    bound that keeps 3-itemset mining tractable when baskets are small
    and the catalog is huge (the same argument as basket_part_affinity,
    one level up).

    Plan: distinct (order, part) -> frequent pairs (support >=
    threshold) -> semi-join keeps only order-part rows whose part
    appears in ANY frequent pair -> 3-way within-order self-join on the
    surviving rows (a < b < c) -> support filter.  Every join is keyed
    on l_orderkey; fan-out is basket-size-cubed only over the pruned
    frame.
    """
    t = TRIPLE_MIN_SUPPORT
    op = (
        load_table(spark, "lineitem", sf_dir)
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    fpairs = _copurchase_pairs(op, t)
    fparts = (
        fpairs.select(F.col("part_a").alias("p"))
        .unionAll(fpairs.select(F.col("part_b").alias("p")))
        .distinct()
    )
    pruned = op.join(
        fparts, op["l_partkey"] == fparts["p"], "left_semi"
    ).localCheckpoint(eager=False)
    x = pruned.alias("x")
    y = pruned.alias("y")
    z = pruned.alias("z")
    triples = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .join(
            z,
            (F.col("x.l_orderkey") == F.col("z.l_orderkey"))
            & (F.col("y.l_partkey") < F.col("z.l_partkey")),
        )
        .groupBy(
            F.col("x.l_partkey").alias("part_a"),
            F.col("y.l_partkey").alias("part_b"),
            F.col("z.l_partkey").alias("part_c"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= t)
    )
    return triples.select(
        "part_a", "part_b", "part_c", F.col("support").cast("long").alias("support")
    ).orderBy("part_a", "part_b", "part_c")


ORACLE_SQL["basket_triples"] = f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           c.l_partkey AS part_c,
           CAST(COUNT(*) AS BIGINT) AS support
    FROM op a
    JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    JOIN op c ON a.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
    GROUP BY 1, 2, 3
    HAVING COUNT(*) >= {TRIPLE_MIN_SUPPORT}
    ORDER BY part_a, part_b, part_c
"""

QUERIES["basket_triples"] = basket_triples


# ---- Fellegi-Sunter field weights ------------------------------------------

FS_FIELDS = ("p_type", "p_brand", "p_size", "name_len")


def fs_field_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter record-linkage weights learned from the blocked
    candidate pairs: for each comparison field, m = P(agree | match)
    and u = P(agree | non-match) with the edit-distance-2 name rule as
    ground truth, and the log2(m/u) agreement weight a probabilistic
    linker would score with — turning the binary entity-resolution rule
    into a tunable scorer.

    Candidates block on p_size alone (a coarser block than the
    resolver's, so true non-matches exist in-sample); m/u are exact
    integer ratios with add-one smoothing; the only float op is one
    shared log2 composition.  Work is per-block quadratic — the
    blocked-join posture of the resolver, never part x part.
    """
    part = load_table(spark, "part", sf_dir).select(
        "p_partkey", "p_name", "p_type", "p_brand", "p_size"
    )
    a, b = part.alias("a"), part.alias("b")
    pairs = a.join(
        b,
        (F.col("a.p_size") == F.col("b.p_size"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey"))
        # deterministic 1-in-4 pair sample: m/u are RATE estimates, so
        # a uniform pair sample keeps them unbiased while bounding the
        # per-block quadratic work (the standard FS training posture)
        & (F.pmod(F.col("a.p_partkey") + F.col("b.p_partkey"), F.lit(4)) == 0),
    ).select(
        # length guard BEFORE the O(nm) edit distance: |len diff| > 2
        # already implies lev > 2, and it prunes most of the 400-per-
        # block candidate pairs at scale (measured 8.3x -> ~2x at 100x)
        F.expr(
            "CASE WHEN ABS(LENGTH(a.p_name) - LENGTH(b.p_name)) <= 2"
            " THEN levenshtein(a.p_name, b.p_name) <= 2 ELSE FALSE END"
        ).alias("is_match"),
        (F.col("a.p_type") == F.col("b.p_type")).alias("ag_p_type"),
        (F.col("a.p_brand") == F.col("b.p_brand")).alias("ag_p_brand"),
        F.lit(True).alias("ag_p_size"),  # blocked on size: always agrees
        (
            F.abs(F.length(F.col("a.p_name")) - F.length(F.col("b.p_name")))
            <= 2
        ).alias("ag_name_len"),
    )
    aggs = [
        F.sum(F.when(F.col("is_match"), 1).otherwise(0)).alias("nm"),
        F.sum(F.when(~F.col("is_match"), 1).otherwise(0)).alias("nu"),
    ]
    for f in FS_FIELDS:
        aggs.append(
            F.sum(
                F.when(F.col("is_match") & F.col(f"ag_{f}"), 1).otherwise(0)
            ).alias(f"am_{f}")
        )
        aggs.append(
            F.sum(
                F.when((~F.col("is_match")) & F.col(f"ag_{f}"), 1).otherwise(0)
            ).alias(f"au_{f}")
        )
    g = pairs.agg(*aggs)
    entries = []
    for f in FS_FIELDS:
        entries.append(
            f"'{f}', CAST(am_{f} AS BIGINT), CAST(au_{f} AS BIGINT),"
            f" CAST(am_{f} * 1000000 DIV nm AS BIGINT),"
            f" CAST(au_{f} * 1000000 DIV nu AS BIGINT),"
            # m/u as ONE division of exact integer products: log2 is
            # monotone, and the two engines' libm log2 differ by 1 ulp
            # at ROUND boundaries — the ratio is bit-identical instead
            f" ROUND(CAST((am_{f} + 1) * (nu + 2) AS DOUBLE)"
            f" / CAST((au_{f} + 1) * (nm + 2) AS DOUBLE), 6)"
        )
    stacked = g.select(
        F.col("nm").cast("long").alias("n_match"),
        F.col("nu").cast("long").alias("n_unmatch"),
        F.expr(
            f"stack({len(FS_FIELDS)}, {', '.join(entries)})"
            " AS (field, n_agree_match, n_agree_unmatch, m_ppm, u_ppm, mu_ratio)"
        ),
    )
    return stacked.select(
        "field",
        "n_match",
        "n_unmatch",
        "n_agree_match",
        "n_agree_unmatch",
        "m_ppm",
        "u_ppm",
        "mu_ratio",
    ).orderBy("field")


def _fs_oracle_sql() -> str:
    field_rows = []
    for f in FS_FIELDS:
        field_rows.append(
            f"SELECT '{f}' AS field, nm AS n_match, nu AS n_unmatch,"
            f" CAST(am_{f} AS BIGINT) AS n_agree_match,"
            f" CAST(au_{f} AS BIGINT) AS n_agree_unmatch,"
            f" CAST(am_{f} * 1000000 // nm AS BIGINT) AS m_ppm,"
            f" CAST(au_{f} * 1000000 // nu AS BIGINT) AS u_ppm,"
            f" ROUND(CAST((am_{f} + 1) * (nu + 2) AS DOUBLE)"
            f" / CAST((au_{f} + 1) * (nm + 2) AS DOUBLE), 6) AS mu_ratio FROM g"
        )
    agg_cols = ["CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT) AS nm",
                "CAST(SUM(CASE WHEN NOT is_match THEN 1 ELSE 0 END) AS BIGINT) AS nu"]
    for f in FS_FIELDS:
        agg_cols.append(
            f"CAST(SUM(CASE WHEN is_match AND ag_{f} THEN 1 ELSE 0 END) AS BIGINT) AS am_{f}"
        )
        agg_cols.append(
            f"CAST(SUM(CASE WHEN NOT is_match AND ag_{f} THEN 1 ELSE 0 END) AS BIGINT) AS au_{f}"
        )
    return f"""
        WITH pairs AS (
            SELECT CASE WHEN ABS(LENGTH(a.p_name) - LENGTH(b.p_name)) <= 2
                        THEN levenshtein(a.p_name, b.p_name) <= 2
                        ELSE FALSE END AS is_match,
                   a.p_type = b.p_type AS ag_p_type,
                   a.p_brand = b.p_brand AS ag_p_brand,
                   TRUE AS ag_p_size,
                   ABS(LENGTH(a.p_name) - LENGTH(b.p_name)) <= 2 AS ag_name_len
            FROM part a JOIN part b
              ON a.p_size = b.p_size AND a.p_partkey < b.p_partkey
             AND ((a.p_partkey + b.p_partkey) % 4 + 4) % 4 = 0
        ), g AS (
            SELECT {', '.join(agg_cols)} FROM pairs
        )
        {' UNION ALL '.join(field_rows)}
        ORDER BY field
    """


QUERIES["fs_field_weights"] = fs_field_weights
ORACLE_SQL["fs_field_weights"] = _fs_oracle_sql()
