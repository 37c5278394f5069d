"""General relational operator surface (SURVEY.md §2.3 right-hand column).

The reference's relational repertoire is narrow (equi/full-outer/semi
joins, 5 aggregate kernels); our engine exposes the full standard
category surface over DataFrames. Each function here is a thin, typed
wrapper around a Catalyst plan, exercised over the driver's TPC-H-ish
tables and hash-checked against a DuckDB oracle.

Numeric determinism for cross-engine hashing: money aggregates are
summed as BIGINT fixed-point ("cents"). Inputs are 2-decimal doubles, so
``x * scale`` is mathematically an integer when ``scale`` covers the
exact decimal width of the expression (100 for raw money, 10^4 for
2-factor products like price*(1-disc), 10^6 for 3-factor charge).
ROUND recovers that integer from the float product tie-free (the true
value IS an integer, so the computed double is int±1e-5, never a .5
tie), both engines truncate the integral double to BIGINT identically,
and a BIGINT sum is exact and order-independent. The final
``CAST(sum AS DOUBLE)/scale`` converts the same integer on both sides.
This replaces the round-2 DECIMAL(18,6) sums: Spark's decimal
accumulator is a boxed-BigDecimal path ~4x slower than primitive long
adds, while DuckDB uses int128 natively — BIGINT cents puts both
engines on their integer fast path.

Overflow guard (automatic): sum(charge)*10^6 is ~3.1e16 at sf0.1 and
crosses the 9.2e18 BIGINT limit around sf30 — a silent wraparound,
since the accumulator is a primitive long. ``_sum_money`` therefore
inspects the SOURCE DataFrame's optimized-plan size estimate at plan
build time (no action) and switches the ACCUMULATOR to DECIMAL(38,0)
— per-row arithmetic stays the identical double->round->BIGINT cents,
so the summed integer (hence the final double) is bit-identical on
both paths and the DuckDB oracle (whose BIGINT sums always widen to
int128) never needs to know which path Spark chose. The flip is
deliberately early (see ``_MONEY_GUARD`` constants: bytes-derived row
overestimate x a generous per-row money bound, ~30x before actual
overflow, around sf1 for the 10^6-scale sums): the cost is the 4x
slower decimal accumulator on data already far past the sub-second
regime, the payoff is that no configuration reaches the wrap.

Scale notes:
- Dimension joins (region/nation/customer) are broadcast-size by
  construction; Catalyst auto-broadcasts under the configured threshold
  and AQE demotes shuffle joins at runtime if an input turns out tiny.
- Window functions partition by high-cardinality keys (custkey,
  segment) — no single-partition global windows in the hot path.
- Top-k = orderBy().limit(): Spark plans TakeOrderedAndProject, which
  keeps a k-row heap per partition and merges — no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEC = "decimal(18,6)"


def _money(col: F.Column) -> F.Column:
    return col.cast(DEC)


def _cents(col: F.Column, scale: int) -> F.Column:
    """Exact integer fixed-point for a money expression whose true value
    has at most log10(scale) decimal digits (see module docstring)."""
    return F.round(col * F.lit(float(scale))).cast("bigint")


# Overflow-guard constants (documented worst-case bounds, not tuning):
# - rows are overestimated as sizeInBytes / 4 (lineitem parquet rows
#   compress to ~18 bytes, so this overestimates ~4.5x);
# - |money expression| per row is bounded by 2e5 (TPC-H charge maxes
#   at ~1.2e5);
# - SAFETY 2 halves the usable BIGINT range.
# Flip condition: est_rows * 2e5 * scale > (2^63-1) / 2.
_MONEY_GUARD = {"min_row_bytes": 4, "row_bound": 2.0e5, "safety": 2.0}
_BIGINT_MAX = (1 << 63) - 1


def _est_source_rows(source: DataFrame) -> float:
    """Upper-bound row estimate from Catalyst plan statistics — available
    at plan build time with NO action (parquet scans report file bytes)."""
    try:
        size = float(source._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return float("inf")  # unknown stats -> assume huge (safe path)
    return size / _MONEY_GUARD["min_row_bytes"]


def money_sum_overflow_possible(source: DataFrame, scale: int) -> bool:
    """True when the BIGINT-cents accumulator cannot be proven safe for
    summing a scale-``scale`` money expression over ``source``.

    ``SPARK_GRAFT_FORCE_DECIMAL_MONEY=1`` pins the answer to True — an
    audit knob so the DECIMAL(38,0) branch can be hash-matched against
    the oracle on real data below the natural flip point (~est 2.3e9
    source rows for scale 10000), e.g. the recorded sf1~ selfcheck."""
    import os

    if os.environ.get("SPARK_GRAFT_FORCE_DECIMAL_MONEY") == "1":
        return True
    bound = _est_source_rows(source) * _MONEY_GUARD["row_bound"] * scale
    return bound > _BIGINT_MAX / _MONEY_GUARD["safety"]


def _sum_money(col: F.Column, scale: int, source: DataFrame | None = None) -> F.Column:
    """Order-independent exact money sum: BIGINT cents, back to double.

    With ``source`` given, the accumulator auto-widens to DECIMAL(38,0)
    when the plan-statistics bound says the BIGINT sum could wrap (see
    module docstring) — same per-row integers, same final double."""
    cents = _cents(col, scale)
    if source is not None and money_sum_overflow_possible(source, scale):
        cents = cents.cast("decimal(38,0)")
    return F.sum(cents).cast("double") / F.lit(float(scale))


def sum_money_sql(expr: str, scale: int) -> str:
    """DuckDB mirror of :func:`_sum_money` — identical expression tree so
    the per-row doubles, the rounded integers, and the final division are
    bit-identical across engines."""
    return (
        f"CAST(SUM(CAST(ROUND(({expr}) * {scale}.0) AS BIGINT)) AS DOUBLE)"
        f" / {scale}.0"
    )


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: multi-aggregate hash aggregation
    grouped by two low-cardinality keys (the engine-category analogue of
    the reference's grouped count/sum/avg kernels, Geoprocessing.scala:
    338-368)."""
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _sum_money(F.col("l_quantity"), 100, lineitem).alias("sum_qty"),
            _sum_money(F.col("l_extendedprice"), 100, lineitem).alias("sum_base_price"),
            _sum_money(disc_price, 10000, lineitem).alias("sum_disc_price"),
            _sum_money(charge, 1000000, lineitem).alias("sum_charge"),
            (_sum_money(F.col("l_quantity"), 100, lineitem) / F.count(F.lit(1))).alias("avg_qty"),
            (_sum_money(F.col("l_extendedprice"), 100, lineitem) / F.count(F.lit(1))).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def pricing_summary_sql() -> str:
    qty = sum_money_sql("l_quantity", 100)
    base = sum_money_sql("l_extendedprice", 100)
    disc = sum_money_sql("(l_extendedprice * (1 - l_discount))", 10000)
    charge = sum_money_sql("(l_extendedprice * (1 - l_discount)) * (1 + l_tax)", 1000000)
    return f"""
    SELECT l_returnflag, l_linestatus,
           {qty} AS sum_qty,
           {base} AS sum_base_price,
           {disc} AS sum_disc_price,
           {charge} AS sum_charge,
           {qty} / COUNT(*) AS avg_qty,
           {base} / COUNT(*) AS avg_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """


def top_customers_by_revenue(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame, k: int = 10
) -> DataFrame:
    """Join + aggregate + top-k. orderBy().limit(k) plans
    TakeOrderedAndProject — per-partition k-row heaps, no global sort.

    Plan shape (round-5 measurement against DuckDB): project
    lineitem to (orderkey, revenue-cents) and orders to (orderkey,
    custkey) BEFORE the join — both sides narrow, so Catalyst
    auto-broadcasts the orders projection under the threshold (and
    degrades to a shuffle join above it, the right call at 100 TB) —
    then ONE aggregation directly on custkey whose map-side partial
    collapses lineitems before the only required shuffle. This beat the
    previous two-level (pre-agg per orderkey, join, re-agg) plan 21% at
    sf0.1 and 13% at sf1~: one hash-aggregation pass and one shuffle
    fewer. BIGINT-cents sums are exact integers, so any grouping order
    is bit-identical to the oracle's flat join+agg; the accumulator
    widens to DECIMAL(38,0) under the module's overflow guard."""
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cents = _cents(rev, 10000)
    if money_sum_overflow_possible(lineitem, 10000):
        cents = cents.cast("decimal(38,0)")
    per_cust = (
        lineitem.select("l_orderkey", cents.alias("rc"))
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("rc").alias("rev_cents"))
    )
    return (
        per_cust.join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            (F.col("rev_cents").cast("double") / F.lit(10000.0)).alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(k)
    )


def top_customers_sql(k: int = 10) -> str:
    rev = sum_money_sql("(l_extendedprice * (1 - l_discount))", 10000)
    return f"""
    SELECT c_custkey, c_name,
           {rev} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey LIMIT {k}
    """


def revenue_by_region(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Star-schema join chain with explicitly broadcast dimensions — the
    standard 100 TB shape: one big fact scan, all dims broadcast, single
    shuffle for the final aggregate."""
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(_sum_money(rev, 10000, lineitem).alias("revenue"))
    )


def revenue_by_region_sql() -> str:
    rev = sum_money_sql("(l_extendedprice * (1 - l_discount))", 10000)
    return f"""
    SELECT r_name,
           {rev} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """


def semi_anti_customers(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Left-semi and left-anti joins (the reference's mask application is a
    semi join, Geoprocessing.scala:356-360): per market segment, customers
    with and without orders."""
    keys = orders.select("o_custkey")
    with_orders = (
        customer.join(keys, customer.c_custkey == keys.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("with_orders"))
    )
    without_orders = (
        customer.join(keys, customer.c_custkey == keys.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("without_orders"))
    )
    return with_orders.join(without_orders, "c_mktsegment", "full").fillna(
        0, ["with_orders", "without_orders"]
    )


def semi_anti_customers_sql() -> str:
    return """
    WITH w AS (
      SELECT c_mktsegment, COUNT(*) AS with_orders FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      GROUP BY c_mktsegment
    ), wo AS (
      SELECT c_mktsegment, COUNT(*) AS without_orders FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      GROUP BY c_mktsegment
    )
    SELECT c_mktsegment,
           COALESCE(with_orders, 0) AS with_orders,
           COALESCE(without_orders, 0) AS without_orders
    FROM w FULL OUTER JOIN wo USING (c_mktsegment)
    """


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


def running_total_per_customer(orders: DataFrame) -> DataFrame:
    """Analytic windows in one pass: running revenue per customer plus
    lag-based day gaps (orderkey tiebreak keeps frames deterministic)."""
    ordering = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w = ordering.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (F.sum(_cents(F.col("o_totalprice"), 100)).over(w).cast("double") / 100.0).alias(
            "running_total"
        ),
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate", 1).over(ordering)
        ).alias("days_since_prev"),
    )


def running_total_sql() -> str:
    return """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(ROUND((o_totalprice) * 100.0) AS BIGINT)) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0 AS running_total,
           CAST(DATE_DIFF('day',
               LAG(o_orderdate, 1) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey),
               o_orderdate) AS INT) AS days_since_prev
    FROM orders
    """


def top_orders_per_segment(orders: DataFrame, customer: DataFrame, n: int = 3) -> DataFrame:
    """Ranking window: top-N orders by price within each market segment."""
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= n)
    )


def top_orders_per_segment_sql(n: int = 3) -> str:
    return f"""
    SELECT c_mktsegment, o_orderkey, o_totalprice, rn FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rn <= {n}
    """


def lag_lead_order_gaps(orders: DataFrame) -> DataFrame:
    """lag/lead analytic functions: days since a customer's previous order."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate", 1).over(w)
        ).alias("days_since_prev"),
    )


def lag_lead_order_gaps_sql() -> str:
    return """
    SELECT o_custkey, o_orderkey,
           CAST(DATE_DIFF('day',
               LAG(o_orderdate, 1) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey),
               o_orderdate) AS INT) AS days_since_prev
    FROM orders
    """


# ---------------------------------------------------------------------------
# Grouping sets / rollup / cube
# ---------------------------------------------------------------------------


def rollup_revenue(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """ROLLUP over (region, nation): hierarchy subtotals + grand total.

    Aggregation is staged below the joins (exact BIGINT-cents partial
    sums commute): per-orderkey, then per-custkey, so the rollup and the
    dim joins run over a ~#customers table, not the raw lineitem fact."""
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_cust = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(_cents(rev, 10000)).alias("rev_cents"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum("rev_cents").alias("rev_cents"))
    )
    joined = (
        per_cust.join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg((F.sum("rev_cents").cast("double") / F.lit(10000.0)).alias("revenue"))
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("r_name"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("n_name"),
            "revenue",
        )
    )


def rollup_revenue_sql() -> str:
    rev = sum_money_sql("(l_extendedprice * (1 - l_discount))", 10000)
    return f"""
    SELECT COALESCE(r_name, 'ALL') AS r_name, COALESCE(n_name, 'ALL') AS n_name,
           {rev} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """


def cube_order_counts(orders: DataFrame) -> DataFrame:
    """CUBE over (status, priority): all subtotal combinations."""
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("o_orderstatus"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("o_orderpriority"),
            "cnt",
        )
    )


def cube_order_counts_sql() -> str:
    return """
    SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
           COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
           COUNT(*) AS cnt
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """


def grouping_sets_revenue(spark, lineitem: DataFrame) -> DataFrame:
    """Explicit GROUPING SETS ((flag,status),(flag),()) via Spark SQL."""
    lineitem.createOrReplaceTempView("_gs_lineitem")
    qty = sum_money_sql("l_quantity", 100)
    return spark.sql(
        f"""
        SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
               COALESCE(l_linestatus, 'ALL') AS l_linestatus,
               {qty} AS sum_qty
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


def grouping_sets_revenue_sql() -> str:
    qty = sum_money_sql("l_quantity", 100)
    return f"""
    SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
           COALESCE(l_linestatus, 'ALL') AS l_linestatus,
           {qty} AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """


# ---------------------------------------------------------------------------
# Set operations / distinct
# ---------------------------------------------------------------------------


def set_ops_customers(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over two customer-key sets: big-balance
    customers vs customers with urgent orders."""
    a = customer.filter(F.col("c_acctbal") > 5000).select(F.col("c_custkey").alias("k"))
    b = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    return (
        a.union(b).distinct().agg(F.count(F.lit(1)).alias("n")).select(F.lit("union").alias("op"), "n")
        .unionAll(
            a.intersect(b).agg(F.count(F.lit(1)).alias("n")).select(F.lit("intersect").alias("op"), "n")
        )
        .unionAll(
            a.exceptAll(b.distinct()).distinct().agg(F.count(F.lit(1)).alias("n")).select(F.lit("except").alias("op"), "n")
        )
    )


def set_ops_customers_sql() -> str:
    return """
    WITH a AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000),
         b AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT 'union' AS op, COUNT(*) AS n FROM (SELECT k FROM a UNION SELECT k FROM b)
    UNION ALL
    SELECT 'intersect' AS op, COUNT(*) AS n FROM (SELECT k FROM a INTERSECT SELECT k FROM b)
    UNION ALL
    SELECT 'except' AS op, COUNT(*) AS n FROM (SELECT k FROM a EXCEPT SELECT k FROM b)
    """


def distinct_counts(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Exact distinct aggregation (O5's dedup-then-count, exactified)."""
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("distinct_customers"),
            F.countDistinct("l_partkey").alias("distinct_parts"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def distinct_counts_sql() -> str:
    return """
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS distinct_customers,
           COUNT(DISTINCT l_partkey) AS distinct_parts,
           COUNT(*) AS n_rows
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """


# ---------------------------------------------------------------------------
# Scalar function families
# ---------------------------------------------------------------------------


def scalar_functions_showcase(part: DataFrame) -> DataFrame:
    """String/math/regexp scalar functions, computed JVM-side (no UDFs)."""
    return part.filter(F.col("p_partkey") < 100).select(
        "p_partkey",
        F.upper(F.col("p_name")).alias("name_upper"),
        F.length(F.col("p_name")).alias("name_len"),
        F.substring(F.col("p_name"), 1, 5).alias("name_prefix"),
        F.concat_ws("|", F.col("p_brand"), F.col("p_type")).alias("brand_type"),
        F.round(F.col("p_retailprice") * 1.1, 2).alias("price_bumped"),
        F.abs(F.col("p_size") - 25).alias("size_dist"),
        (F.col("p_partkey") % 7).alias("mod7"),
        # regexp family: capture groups, global replace, predicates
        F.regexp_extract(F.col("p_name"), r"^(\w+)", 1).alias("first_word"),
        F.regexp_replace(F.col("p_name"), r"[aeiou]", "_").alias("devoweled"),
        F.col("p_type").rlike("ECONOMY|PROMO").cast("int").alias("is_econ_promo"),
        F.regexp_count(F.col("p_name"), F.lit(r"\w+")).alias("word_count"),
    )


def scalar_functions_showcase_sql() -> str:
    return r"""
    SELECT p_partkey,
           UPPER(p_name) AS name_upper,
           CAST(LENGTH(p_name) AS INT) AS name_len,
           SUBSTRING(p_name, 1, 5) AS name_prefix,
           CONCAT_WS('|', p_brand, p_type) AS brand_type,
           ROUND(p_retailprice * 1.1, 2) AS price_bumped,
           ABS(p_size - 25) AS size_dist,
           p_partkey % 7 AS mod7,
           regexp_extract(p_name, '^(\w+)', 1) AS first_word,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
           CAST(regexp_matches(p_type, 'ECONOMY|PROMO') AS INT) AS is_econ_promo,
           CAST(len(regexp_extract_all(p_name, '\w+')) AS INT) AS word_count
    FROM part WHERE p_partkey < 100
    """


def datetime_functions_showcase(orders: DataFrame) -> DataFrame:
    """Date/time scalar functions over order dates."""
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
            F.month("o_orderdate").alias("mo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min(F.dayofmonth("o_orderdate")).alias("min_dom"),
            F.max(F.dayofweek("o_orderdate")).alias("max_dow"),
        )
    )


def datetime_functions_showcase_sql() -> str:
    # DuckDB dayofweek (dow) is 0=Sunday; Spark's DAYOFWEEK is 1=Sunday.
    return """
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
           CAST(EXTRACT(QUARTER FROM o_orderdate) AS INT) AS qtr,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mo,
           COUNT(*) AS n_orders,
           CAST(MIN(EXTRACT(DAY FROM o_orderdate)) AS INT) AS min_dom,
           CAST(MAX(EXTRACT(DOW FROM o_orderdate)) + 1 AS INT) AS max_dow
    FROM orders GROUP BY 1, 2, 3
    """


def json_extract_events(events: DataFrame) -> DataFrame:
    """JSON scalar functions: extract a field from the events props blob."""
    return (
        events.select(
            "event_id",
            F.get_json_object(F.col("props"), "$.k").cast("int").alias("k_value"),
        )
        .groupBy((F.col("k_value") % 10).alias("k_mod10"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("k_value").alias("k_sum"))
    )


def json_extract_events_sql() -> str:
    return """
    SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod10,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum
    FROM events GROUP BY 1
    """


def array_functions_showcase(documents: DataFrame) -> DataFrame:
    """Array scalar functions: split, size, element_at, array_contains."""
    words = F.split(F.col("text"), " ")
    return documents.filter(F.col("doc_id") < 100).select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.element_at(words, 1).alias("first_word"),
        F.element_at(words, -1).alias("last_word"),
        F.array_contains(words, "spark").cast("int").alias("has_spark"),
    )


def array_functions_showcase_sql() -> str:
    return """
    SELECT doc_id,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS INT) AS n_words,
           STRING_SPLIT(text, ' ')[1] AS first_word,
           STRING_SPLIT(text, ' ')[-1] AS last_word,
           CAST(LIST_CONTAINS(STRING_SPLIT(text, ' '), 'spark') AS INT) AS has_spark
    FROM documents WHERE doc_id < 100
    """


# ---------------------------------------------------------------------------
# Specialized joins the reference lacks (SURVEY §2.3 "absent" rows)
# ---------------------------------------------------------------------------


def asof_join_events_orders(events: DataFrame, orders: DataFrame) -> DataFrame:
    """As-of join: for each event, the user's most recent order at or
    before the event timestamp (ties on o_orderdate break toward the
    larger o_orderkey). Spark has no native ASOF, and the obvious
    composition — inequality join then rank — materializes
    |matching orders per event| intermediate rows, which is quadratic
    in per-user history (measured: ~36 B rows at the sf10 replica,
    where per-user order AND event counts both grow 100x; the r7 gate
    attempt died there). This is the scalable shape instead: UNION the
    two inputs, ONE shuffle on user_id, and a carry-forward window —
    ``last(o_orderkey, ignorenulls)`` over (time, kind, orderkey) with
    order rows sorted before events at the same instant (<= semantics).
    Linear in input size, no join at all; per-user partitions are
    bounded by that user's history.
    """
    e = events.select(
        F.col("user_id").alias("u"),
        F.col("ts").cast("timestamp").alias("t"),
        F.lit(1).alias("kind"),
        "event_id",
        F.lit(None).cast("long").alias("ok"),
    )
    o = orders.select(
        F.col("o_custkey").alias("u"),
        F.col("o_orderdate").cast("timestamp").alias("t"),
        F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderkey").alias("ok"),
    )
    w = (
        Window.partitionBy("u")
        .orderBy("t", "kind", "ok")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.unionByName(o)
        .withColumn("o_orderkey", F.last("ok", ignorenulls=True).over(w))
        .filter((F.col("kind") == 1) & F.col("o_orderkey").isNotNull())
        .select("event_id", F.col("u").alias("user_id"), "o_orderkey")
    )


def asof_join_events_orders_sql() -> str:
    # Same carry-forward plan (the quadratic join-then-rank twin is
    # equally infeasible for DuckDB at the sf10 replica). Event rows
    # carry NULL ok, so ASC null placement (Spark nulls-first vs DuckDB
    # nulls-last) never reorders rows that matter: within a (t, kind)
    # tie, event rows are interchangeable and order rows are non-null.
    return """
    SELECT event_id, user_id, o_orderkey FROM (
      SELECT kind, event_id, u AS user_id,
             LAST_VALUE(ok IGNORE NULLS) OVER (
               PARTITION BY u ORDER BY t, kind, ok
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS o_orderkey
      FROM (
        SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS t, 1 AS kind,
               event_id, CAST(NULL AS BIGINT) AS ok
        FROM events
        UNION ALL
        SELECT o_custkey, CAST(o_orderdate AS TIMESTAMP), 0, NULL, o_orderkey
        FROM orders
      )
    ) WHERE kind = 1 AND o_orderkey IS NOT NULL
    """


def interval_join_events(events: DataFrame) -> DataFrame:
    """Interval (range) self-join: pairs of same-user events within 10
    minutes. The equi-key (user_id) carries the join; the range predicate
    filters within groups — the scalable shape for interval joins."""
    e1 = events.select(
        F.col("user_id").alias("u"), F.col("event_id").alias("e1"), F.col("ts").alias("t1")
    )
    e2 = events.select(
        F.col("user_id").alias("u"), F.col("event_id").alias("e2"), F.col("ts").alias("t2")
    )
    return (
        e1.join(e2, "u")
        .filter(
            (F.col("e1") < F.col("e2"))
            & (F.col("t2") >= F.col("t1"))
            & (F.col("t2") <= F.col("t1") + F.expr("INTERVAL 10 MINUTES"))
        )
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
    )


def interval_join_events_sql() -> str:
    return """
    SELECT e1.user_id AS u, COUNT(*) AS pair_cnt
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND e1.event_id < e2.event_id
     AND e2.ts >= e1.ts AND e2.ts <= e1.ts + INTERVAL 10 MINUTE
    GROUP BY 1
    """


# ---------------------------------------------------------------------------
# Pivot
# ---------------------------------------------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def pivot_event_counts(events: DataFrame) -> DataFrame:
    """Pivot: per-user event counts, one column per event type."""
    out = (
        events.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .fillna(0, EVENT_TYPES)
    )
    return out


def pivot_event_counts_sql() -> str:
    # CAST ... AS BIGINT: DuckDB types SUM(int) as HUGEINT, which pandas
    # materializes as float/object and the driver's hasher canonicalizes
    # differently than Spark's int64 (the round-1 hash compare failed).
    cols = ", ".join(
        f'CAST(COALESCE(SUM(CASE WHEN event_type = \'{t}\' THEN 1 END), 0) AS BIGINT) AS "{t}"'
        for t in EVENT_TYPES
    )
    return f"SELECT user_id, {cols} FROM events GROUP BY user_id"


def asof_join_cogroup(events: DataFrame, orders: DataFrame) -> DataFrame:
    """The SAME as-of semantics as ``asof_join_events_orders``, through
    the one pandas-on-Spark face the surface was missing: cogrouped-map
    (``groupBy().cogroup().applyInPandas``) — both inputs shuffle on
    the key once, and each (events_group, orders_group) pair lands in
    ONE Python worker call as two pandas frames, where ``pd.merge_asof``
    is the per-key kernel. This is the escape hatch for per-key
    algorithms that outgrow window expressions (two-sided alignment,
    per-entity model scoring, resampling); here it is deliberately a
    TWIN of the declarative carry-forward plan (the registered scale
    path — linear, no Python) so equality is testable and the oracle
    is shared. Tie-break parity: orders are sorted (t, o_orderkey) so
    merge_asof's last-match-wins picks the largest orderkey at equal
    timestamps, and allow_exact_matches keeps the <= semantics.
    """
    e = events.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts").cast("timestamp_ntz").alias("t"),
        F.col("event_id").cast("long").alias("event_id"),
    )
    o = orders.select(
        F.col("o_custkey").cast("long").alias("user_id"),
        F.col("o_orderdate").cast("timestamp_ntz").alias("t"),
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
    )

    def merge(evs, ords):
        import pandas as pd

        if evs.empty or ords.empty:
            return pd.DataFrame(
                {"event_id": pd.Series(dtype="int64"),
                 "user_id": pd.Series(dtype="int64"),
                 "o_orderkey": pd.Series(dtype="int64")}
            )
        evs = evs.sort_values("t", kind="mergesort")
        ords = ords.sort_values(["t", "o_orderkey"], kind="mergesort")
        m = pd.merge_asof(
            evs, ords[["t", "o_orderkey"]], on="t",
            direction="backward", allow_exact_matches=True,
        )
        m = m.dropna(subset=["o_orderkey"])
        return pd.DataFrame(
            {"event_id": m["event_id"].astype("int64"),
             "user_id": m["user_id"].astype("int64"),
             "o_orderkey": m["o_orderkey"].astype("int64")}
        )

    return (
        e.groupBy("user_id")
        .cogroup(o.groupBy("user_id"))
        .applyInPandas(merge, "event_id long, user_id long, o_orderkey long")
    )
