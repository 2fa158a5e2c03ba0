"""TPC-H shape sweep — the 15 remaining query shapes (SURVEY §2 C1).

The reference's whole relational surface is one unrestricted SQL entry
point (``src/sparkSQL/SparkSQLOperator.java:18-19``): any SQL a user
ran there must run here. flagship.py carries Q3/Q5/Q7/Q13/Q18/Q19/Q21;
this module carries the other fifteen — Q1, Q2, Q4, Q6, Q8, Q9, Q10,
Q11, Q12, Q14, Q15, Q16, Q17, Q20, Q22 — so ALL 22 TPC-H query shapes
have a hash-checked key.

Fixture adaptations (documented per key): there is no ``partsupp``
table and no ``l_commitdate / l_receiptdate / l_shipmode / c_phone /
p_container`` column, so Q4/Q21-style "late" is shipdate > orderdate +
60 days, Q9's profit drops the supplycost term, Q12 groups by
``l_linestatus`` instead of shipmode, Q2/Q16/Q20 derive supplier×part
facts from lineitem instead of partsupp, Q11's importance threshold is
self-scaling instead of externally SF-scaled, and Q22's country code
is the nation key itself. Every adaptation preserves the *plan shape*
the original query stresses — that is what this sweep exists to prove.

Float discipline: every money/ratio aggregate goes through the
integer-unit exact-sum convention (``registry.dsum`` / ``osum``), and
threshold comparisons against averages (Q17, Q22) are rewritten into
pure integer inequalities (``q*n < sum`` instead of ``q < sum/n*0.2``)
so no engine ever compares against a rounded quotient. Ratios divide
two exact integer-unit sums cast to double — one correctly-rounded
division, identical on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamingdemo_spark.io import load_tables, register_views
from streamingdemo_spark.registry import dsum, osum, ousum, query, usum


@query(
    "flagship_q1",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {osum("l_quantity")} AS sum_qty,
           {osum("l_extendedprice")} AS sum_base_price,
           {osum("l_extendedprice * (1 - l_discount)", 4)} AS sum_disc_price,
           {osum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)} AS sum_charge,
           {osum("l_quantity")} / COUNT(*) AS avg_qty,
           {osum("l_extendedprice")} / COUNT(*) AS avg_price,
           {osum("l_discount")} / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def flagship_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the pricing summary report — one full fact scan,
    a tiny-cardinality group (flag × status = 6 groups), eight
    aggregates per group mixing sums, derived-expression sums, averages
    and counts.

    Scale shape: THE map-side-combine showcase. Partial aggregation
    reduces each of the scan's partitions to ≤6 rows before the single
    (trivial) shuffle, so the job is scan-bound — exactly what you want
    at 100 TB. All four sums run in long integer units inside
    whole-stage codegen (dsum); the averages divide those exact sums by
    the exact count, one correctly-rounded division per engine. The
    shipdate predicate pushes into the parquet scan.

    Overflow bound (dsum contract): the scale-6 charge sum wraps int64
    past ~6e7 rows/group (scale-4 disc_price past ~6e9) — beyond that,
    pass wide=True to those two dsum calls (decimal-128 buffers,
    measured ~3.5× slower per round 2) or pre-aggregate per partition
    first; only 6 groups exist, so a true 100 TB Q1 takes the wide
    path for charge. The fixture scales stay ≥1e3 under the bound.
    """
    t = load_tables(spark, sf_dir, ("lineitem",))
    li = t["lineitem"].filter(
        F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    cnt = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price, 4).alias("sum_disc_price"),
            dsum(charge, 6).alias("sum_charge"),
            (dsum("l_quantity") / cnt).alias("avg_qty"),
            (dsum("l_extendedprice") / cnt).alias("avg_price"),
            (dsum("l_discount") / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


_Q4_SQL = """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """


@query("flagship_q4", oracle=_Q4_SQL)
def flagship_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority checking — orders in one quarter
    having at least one late line, counted per priority. The defining
    shape is a correlated EXISTS whose predicate references BOTH sides
    (l_shipdate vs o_orderdate): Catalyst must compile it to a left
    SEMI join (each order counted once however many lines are late),
    never a per-row subquery re-execution.

    Fixture adaptation: "late" is l_shipdate > o_orderdate + 60 days
    (the fixture has no commit/receipt dates) — same correlated-
    comparison shape as the original's l_commitdate < l_receiptdate.

    Scale shape: the quarter predicate pushes into the orders scan;
    the semi join shuffles on orderkey (co-partitioned under the
    ``join_bucketed`` layout at 100 TB); the priority aggregate is
    5 groups with map-side combine. Identical SQL on both engines.
    """
    register_views(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql(_Q4_SQL)


@query(
    "flagship_q6",
    oracle=f"""
    SELECT {osum("l_extendedprice * l_discount", 4)} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def flagship_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the forecasting-revenue-change query — a pure
    scan-filter-aggregate with NO join and NO group: the predicate-
    pushdown / column-pruning litmus test.

    Scale shape: all three predicates (date range, discount band,
    quantity cap) push into the parquet scan as PushedFilters, the
    reader materializes only the 4 referenced columns, and the global
    sum partial-aggregates per partition to a single row each — the
    whole query is one codegen'd scan stage plus a 32-row final
    reduce. At 100 TB this is bounded by parquet decode throughput,
    which is the correct bound. The discount band compares against the
    stored 2-decimal doubles directly (0.05/0.07 parse to identical
    doubles in both engines; no epsilon games needed).
    """
    t = load_tables(spark, sf_dir, ("lineitem",))
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "flagship_q8",
    oracle=f"""
    SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
           CAST({ousum("CASE WHEN n2.n_name = 'NATION_3' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")} AS DOUBLE)
           / CAST({ousum("l.l_extendedprice * (1 - l.l_discount)")} AS DOUBLE)
           AS mkt_share
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n1.n_regionkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
    WHERE r.r_name = 'ASIA'
      AND p.p_type = 'PROMO'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY CAST(EXTRACT(year FROM o.o_orderdate) AS INT)
    """,
)
def flagship_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — the fraction of a
    region's PROMO-part revenue supplied by one nation, per year. The
    defining shape is a conditional-sum RATIO over an 8-relation join
    with the nation dimension joined TWICE under different roles
    (customer's nation restricts the market, supplier's nation defines
    the share).

    Scale shape: part (type-filtered), customer→nation→region (region-
    filtered chain) and supplier⋈nation all broadcast; the only big
    shuffles are lineitem⋈orders and the year aggregate. The ratio
    keeps numerator and denominator in integer units (one BIGINT sum
    each, map-side combined) and closes with a single double division —
    the only rounding step, identical on both engines.
    """
    t = load_tables(
        spark,
        sf_dir,
        ("region", "nation", "customer", "orders", "lineitem", "supplier", "part"),
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    part = t["part"].filter(F.col("p_type") == "PROMO")
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust_nation = (
        t["customer"]
        .join(
            F.broadcast(
                t["nation"].join(
                    F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    supp_nation = t["supplier"].join(
        F.broadcast(
            t["nation"].select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"),
            )
        ),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    joined = (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(cust_nation), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    nation_vol = usum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0)))
    total_vol = usum(vol)
    return (
        joined.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (nation_vol.cast("double") / total_vol.cast("double")).alias("mkt_share")
        )
    )


@query(
    "flagship_q9",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS o_year,
           {osum("l.l_extendedprice * (1 - l.l_discount)", 4)} AS sum_profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY n.n_name, CAST(EXTRACT(year FROM l.l_shipdate) AS INT)
    """,
)
def flagship_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-type profit — profit per supplier-nation
    per year over every part whose NAME matches a substring pattern.
    The defining shape is an un-pushable LIKE '%…%' dimension filter
    (no prefix ⇒ no pushdown; the filter evaluates post-scan but
    pre-join) feeding a fact join grouped by two derived columns.

    Fixture adaptation: the fixture has no partsupp/supplycost, so
    profit is revenue (extendedprice × (1-discount)) without the cost
    term — the join tree and aggregate shape are unchanged; the
    original's extra partsupp hop would be one more broadcast here.

    Scale shape: part (LIKE-filtered) and supplier⋈nation broadcast;
    lineitem never shuffles for the joins — only the final
    nation×year aggregate (tiny domain) shuffles, map-side combined.
    """
    t = load_tables(spark, sf_dir, ("nation", "lineitem", "supplier", "part"))
    part = t["part"].filter(F.col("p_name").like("%gear%"))
    supp = t["supplier"].join(
        F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        t["lineitem"]
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("int").alias("o_year"),
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "sum_profit"
            )
        )
    )


@query(
    "flagship_q10",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           {osum("l.l_extendedprice * (1 - l.l_discount)", 4)} AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def flagship_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item reporting — the 20 customers who
    returned the most revenue in a quarter. The defining shape is a
    fact-restricting flag predicate (l_returnflag = 'R') combined with
    a time slice on a DIFFERENT table, a customer-grain aggregate
    carrying several payload columns, and a top-k.

    Scale shape: both predicates push into their respective scans
    (returnflag is a dictionary-encoded parquet column — the reader
    skips pages); customer and nation broadcast; one shuffle for
    lineitem⋈orders and one for the customer-grain aggregate; the
    top-20 is TakeOrdered (no global sort). The payload columns ride
    the groupBy key list instead of a re-join, trading a slightly
    wider shuffle row for a whole join stage — the right trade at any
    scale. Deterministic c_custkey tiebreak keeps the LIMIT
    oracle-stable.
    """
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem", "nation"))
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    items = t["lineitem"].filter(F.col("l_returnflag") == "R")
    return (
        items.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "flagship_q12",
    oracle="""
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_returnflag <> 'A'
    GROUP BY l.l_linestatus
    """,
)
def flagship_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: shipping-mode / order-priority cross-tab —
    per fact category, how many joined rows fall into a high- vs
    low-priority class. The defining shape is a pair of complementary
    conditional counts (CASE WHEN … IN (…)) evaluated on the JOINED
    row, grouped by a fact column.

    Fixture adaptation: the fixture has no l_shipmode, so the group
    key is l_linestatus and the mode membership filter becomes a
    returnflag exclusion — same filtered-join + dual-conditional-sum
    plan as the original.

    Scale shape: the date range and flag exclusion push into the
    lineitem scan; the join shuffles on orderkey (bucketing-
    co-locatable); the aggregate is 2 groups with map-side combine,
    and both counts come from ONE pass (no second join or scan).
    """
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    items = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_returnflag") != "A")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t["orders"]
        .join(items, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "flagship_q14",
    oracle=f"""
    SELECT 100.0 * CAST({ousum("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")} AS DOUBLE)
           / CAST({ousum("l.l_extendedprice * (1 - l.l_discount)")} AS DOUBLE)
           AS promo_revenue,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
    """,
)
def flagship_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promotion effect — the percentage of one
    month's revenue that came from PROMO parts. The defining shape is
    a global (ungrouped) conditional-sum ratio over a fact⋈dim join:
    numerator and denominator from the SAME single pass.

    Scale shape: the month slice pushes into the lineitem scan, part
    broadcasts, and the whole query partial-aggregates to one row per
    partition before a 32-row final reduce — no wide shuffle at all.
    Integer-unit numerator/denominator, one closing double division
    (then ×100.0, exact-by-identical-sequence on both engines).
    """
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    items = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    promo = usum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0)))
    total = usum(vol)
    return (
        items.join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (F.lit(100.0) * promo.cast("double") / total.cast("double")).alias(
                "promo_revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_Q15_SQL = f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {osum("l_extendedprice * (1 - l_discount)", 4)} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue r ON r.supplier_no = s.s_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """


@query("flagship_q15", oracle=_Q15_SQL)
def flagship_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: top supplier — the supplier(s) whose quarterly
    revenue equals the maximum. The defining shape is a derived
    relation (revenue view) referenced TWICE — once as a join input
    and once inside a scalar MAX subquery — which the optimizer should
    evaluate once or twice over the same tiny aggregate, never
    re-scanning the fact per row.

    Equality-on-revenue is safe here because both engines compute the
    identical integer-unit sum (dsum convention), so the MAX and the
    per-supplier values are bitwise-equal doubles — float equality is
    exact by construction, and ties (several suppliers at max) return
    identically on both engines.

    Scale shape: ONE fact pass builds the supplier-grain aggregate
    (map-side combine); the scalar MAX reduces that aggregate; the
    supplier dim broadcasts. Identical SQL on both engines.
    """
    register_views(spark, sf_dir, ("supplier", "lineitem"))
    return spark.sql(_Q15_SQL)


_Q16_SQL = """
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                              WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """


@query("flagship_q16", oracle=_Q16_SQL)
def flagship_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: parts/supplier relationship — how many DISTINCT
    suppliers serve each surviving (brand, type, size) bucket, with
    negated dimension predicates and a NOT IN exclusion subquery. The
    defining stresses: COUNT(DISTINCT) at a grouped grain, <> / NOT IN
    predicate handling, and an uncorrelated exclusion list compiled to
    a null-aware anti join (the excluded-supplier set here is provably
    non-null, so the anti join degenerates to the fast path).

    Fixture adaptation: the supplier×part facts come from lineitem
    (no partsupp table), and the "customer complaints" comment filter
    becomes a negative-balance filter — the exclusion shape (NOT IN
    over a filtered dim subquery) is identical.

    Scale shape: part is a filtered broadcast; the exclusion list is
    a ~100-row broadcast anti join; COUNT(DISTINCT l_suppkey) expands
    to a two-phase aggregate (dedup on (group, suppkey), then count)
    — both phases shuffle on the group key only. Identical SQL.
    """
    register_views(spark, sf_dir, ("supplier", "lineitem", "part"))
    return spark.sql(_Q16_SQL)


_Q17_SQL = f"""
    WITH part_avg AS (
      SELECT l_partkey,
             SUM(CAST(l_quantity AS BIGINT)) AS sum_qty,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY l_partkey)
    SELECT {osum("l.l_extendedprice")} / 7.0 AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN part_avg a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#11'
      AND p.p_size < 10
      AND 5 * CAST(l.l_quantity AS BIGINT) * a.cnt < a.sum_qty
    """


@query("flagship_q17", oracle=_Q17_SQL)
def flagship_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: small-quantity-order revenue — lines of one
    brand's small parts whose quantity is below 20% of that part's
    average quantity. The defining shape is a correlated scalar
    aggregate (per-part average) compared against the outer row,
    which must compile to ONE extra aggregate over the fact plus a
    join — never a per-row subquery.

    Exactness: the threshold ``q < 0.2 * avg(q)`` is rewritten as the
    integer inequality ``5·q·n < Σq`` (quantities are integer-valued;
    sums as BIGINT) so neither engine ever compares against a rounded
    quotient — the comparison is exact, unconditionally.

    Scale shape: the per-part aggregate shuffles lineitem once on
    partkey and the probe join reuses that partitioning; the brand
    filter broadcasts part. At 100 TB the part_avg relation is
    part-cardinality-sized (small); only qualifying lines reach the
    final sum. Identical SQL on both engines; fixture has no
    p_container, so the container predicate becomes p_size < 10.
    """
    register_views(spark, sf_dir, ("lineitem", "part"))
    return spark.sql(_Q17_SQL)


_Q20_SQL = """
    WITH shipped AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS BIGINT)) AS supp_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_partkey, l_suppkey),
    part_total AS (
      SELECT l_partkey, SUM(supp_qty) AS total_qty
      FROM shipped GROUP BY l_partkey)
    SELECT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_5'
      AND s.s_suppkey IN (
        SELECT sh.l_suppkey
        FROM shipped sh
        JOIN part_total pt ON pt.l_partkey = sh.l_partkey
        JOIN part p ON p.p_partkey = sh.l_partkey
        WHERE p.p_name LIKE 'red%'
          AND 2 * sh.supp_qty > pt.total_qty)
    """


@query("flagship_q20", oracle=_Q20_SQL)
def flagship_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: potential part promotion — suppliers in one
    nation who dominate the supply of some name-filtered part family
    (shipped more than half of that part's year volume). The defining
    shape is a nested membership chain: an IN subquery whose body
    joins TWO levels of aggregation of the same fact (per-(part,supp)
    quantities vs per-part totals) against a LIKE-prefixed dim filter.

    Fixture adaptation: no partsupp/availqty, so "availqty > half of
    shipped" becomes "shipped more than half of the part's total" —
    derived from lineitem at the same two grains; the 50% threshold
    is the exact integer inequality 2·supp_qty > total_qty.

    Scale shape: ONE year-sliced fact pass builds the (part, supp)
    grain; the part totals reuse that aggregate (grain roll-up, no
    second scan); the 'red%' prefix pushes into the part scan; the IN
    compiles to a semi join against a supplier-cardinality set and
    nation broadcasts. Identical SQL on both engines.
    """
    register_views(spark, sf_dir, ("supplier", "nation", "lineitem", "part"))
    return spark.sql(_Q20_SQL)


_Q22_SQL = f"""
    WITH pos AS (
      SELECT SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS sum_units,
             COUNT(*) AS cnt
      FROM customer
      WHERE c_nationkey IN (3, 9, 13, 17, 21) AND c_acctbal > 0.0)
    SELECT c.c_nationkey AS cntrycode,
           COUNT(*) AS numcust,
           {osum("c.c_acctbal")} AS totacctbal
    FROM customer c, pos
    WHERE c.c_nationkey IN (3, 9, 13, 17, 21)
      AND CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT) * pos.cnt
          > pos.sum_units
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
    GROUP BY c.c_nationkey
    """


@query("flagship_q22", oracle=_Q22_SQL)
def flagship_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: global sales opportunity — wealthy customers
    from a set of countries who lapsed (no order in the fixture's
    final eight months). Three stresses in one plan: an uncorrelated
    scalar aggregate (the average balance) consumed as a cross-joined
    1-row relation, a correlated NOT EXISTS with a side predicate
    compiled to an anti join against the date-sliced orders table,
    and a small grouped report on what survives.

    Fixture adaptation: no c_phone, so the substring country code is
    the nation key itself; and because the fixture gives EVERY
    customer orders (no order-less customer exists at any sf), the
    original's "never ordered" becomes "not ordered since 2001" —
    same anti-join shape, non-vacuous at every scale, and the date
    predicate pushes into the orders scan before the anti join.
    Exactness: "balance above average" is the integer inequality
    ``units·n > Σunits`` (2-decimal balances scale exactly to integer
    cents) — no engine compares against a rounded average.

    Scale shape: the 1-row average relation broadcasts (cross join of
    a singleton is a broadcast nested loop over one row — free); the
    anti join shuffles orders once on custkey (or broadcasts the
    filtered customer side at 100 TB since the country filter keeps
    ~1/5th of a dim); the final aggregate is 5 groups. Identical SQL
    on both engines.
    """
    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql(_Q22_SQL)


_Q2_SQL = """
    WITH ps AS (
      SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS cost
      FROM lineitem GROUP BY l_partkey, l_suppkey)
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, ps.cost
    FROM part p
    JOIN ps ON ps.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE p.p_size < 10 AND p.p_type = 'LARGE' AND r.r_name = 'EUROPE'
      AND ps.cost = (SELECT MIN(ps2.cost) FROM ps ps2
                     JOIN supplier s2 ON s2.s_suppkey = ps2.l_suppkey
                     JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
                     JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
                     WHERE ps2.l_partkey = p.p_partkey
                       AND r2.r_name = 'EUROPE')
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
    LIMIT 100
    """


@query("flagship_q2", oracle=_Q2_SQL)
def flagship_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: minimum-cost supplier — for each qualifying
    part, the European supplier(s) offering its lowest price. The
    defining shape is a CORRELATED SCALAR MIN subquery that re-joins
    the same supplier→nation→region dimension chain as the outer
    query and compares per-part: the optimizer must decorrelate it to
    one aggregate-and-join over the shared relation, never a per-part
    re-execution.

    Fixture adaptation: no partsupp, so the supplier×part cost
    relation derives from lineitem as MIN(l_extendedprice) per
    (partkey, suppkey) — MIN of stored 2-decimal doubles involves no
    arithmetic, so the correlated equality compares exact stored
    values on both engines (ties return identically).

    Scale shape: ONE fact pass builds ps (map-side combine to
    supplier×part grain); both the outer query and the decorrelated
    subquery consume that aggregate with broadcast dims; the top-100
    is a TakeOrdered with a fully deterministic 4-column tiebreak.
    Identical SQL on both engines.
    """
    register_views(
        spark, sf_dir, ("part", "supplier", "nation", "region", "lineitem")
    )
    return spark.sql(_Q2_SQL)


_Q11_SQL = """
    WITH v AS (
      SELECT l.l_partkey,
             SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS u
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_3'
      GROUP BY l.l_partkey),
    tot AS (SELECT SUM(u) AS t, COUNT(*) AS np FROM v)
    SELECT v.l_partkey AS ps_partkey,
           CAST(v.u AS DOUBLE) / 100.0 AS part_value
    FROM v, tot
    WHERE v.u * tot.np * 2 > 3 * tot.t
    """


@query("flagship_q11", oracle=_Q11_SQL)
def flagship_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: important stock identification — the parts
    whose value held by one nation's suppliers is an outsized share
    of that nation's total. The defining shape is a grouped aggregate
    filtered against a SCALAR aggregate of itself (HAVING value >
    fraction × total): the grouped relation must be computed once and
    consumed twice (group rows + global total), with the total joined
    back as a 1-row broadcast.

    Fixture adaptations: the supplier×part value derives from
    lineitem (no partsupp); and where the original scales its
    fraction by 1/SF externally, the threshold here is self-scaling —
    "1.5× the average part value", expressed as the exact integer
    inequality u·np·2 > 3·t (u, np, t all BIGINT from integer-unit
    sums), so the key is non-vacuous at every fixture scale without
    any engine comparing against a rounded quotient.

    Scale shape: one fact pass to (part) grain with broadcast dims;
    the total re-aggregates THE GROUPED RELATION (tiny), not the
    fact — Catalyst inlines the CTE into two identical subplans and
    AQE stitches them back with a ReusedExchange at runtime, so the
    part-grain shuffle and the scan under it execute once
    (plan-pinned post-execution in tests/test_plans.py); the filter
    join is a 1-row cross broadcast. Identical SQL on both engines.
    """
    register_views(spark, sf_dir, ("lineitem", "supplier", "nation"))
    return spark.sql(_Q11_SQL)
