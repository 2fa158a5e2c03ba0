"""Join operator surface (SURVEY.md §2.D joins; reference C3).

The reference's one concrete query is an inner equi-join written in
theta form — ``select * from a d join b x where x.xid = d.id``
(``src/sparkSQL/SparkSQLOperator.java:18``); ``join_inner`` and
``join_where_theta_equi`` reproduce that shape, the rest widen to the
full join matrix its SQL entry point implies.

Scale notes per key are in the docstrings; the common rules: dimension
sides are broadcast (no shuffle of the fact table), non-equi joins keep
the small side broadcast so BNLJ never materializes a cartesian of two
big relations, and equi-joins rely on AQE for skew splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamingdemo_spark.io import load_tables
from streamingdemo_spark.registry import dsum, osum, query


@query(
    "join_inner",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'AUTOMOBILE'
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 shape as an explicit inner equi-join (orders ⋈ customer)."""
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    c = t["customer"].filter(F.col("c_mktsegment") == "AUTOMOBILE")
    return t["orders"].join(c, t["orders"].o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@query(
    "join_where_theta_equi",
    oracle="""
    SELECT o.o_orderkey, c.c_custkey
    FROM orders o, customer c
    WHERE o.o_custkey = c.c_custkey AND c.c_acctbal > 9000.0
    """,
)
def join_where_theta_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The literal reference form: comma-join + equality in WHERE
    (``SparkSQLOperator.java:18``). Catalyst lifts the cross+filter to
    an equi-join (verify with ``.explain`` — no CartesianProduct)."""
    from streamingdemo_spark.io import register_views

    register_views(spark, sf_dir, ("orders", "customer"))
    return spark.sql(
        """
        SELECT o.o_orderkey, c.c_custkey
        FROM orders o, customer c
        WHERE o.o_custkey = c.c_custkey AND c.c_acctbal > 9000.0
        """
    )


def _cust_orders(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    # Restrict one side so outer joins actually produce null rows.
    orders = t["orders"].filter(F.col("o_totalprice") > 200000.0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = t["customer"].select("c_custkey", "c_name")
    return cust, orders


_OUTER_ORACLE = """
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c {how} JOIN
         (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
          WHERE o_totalprice > 200000.0) o
      ON o.o_custkey = c.c_custkey
"""

# RIGHT JOIN keeps the right side's unmatched rows, so the oracle puts
# the filtered orders on the LEFT and customer on the RIGHT — matching
# the Spark query, which keeps every customer.
_RIGHT_ORACLE = """
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
          WHERE o_totalprice > 200000.0) o
    RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
"""


@query("join_left", oracle=_OUTER_ORACLE.format(how="LEFT"))
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders = _cust_orders(spark, sf_dir)
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query("join_right", oracle=_RIGHT_ORACLE)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders = _cust_orders(spark, sf_dir)
    return orders.join(cust, cust.c_custkey == orders.o_custkey, "right").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query("join_full", oracle=_OUTER_ORACLE.format(how="FULL"))
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Full-outer: big orders on the left vs an (unfiltered) customer dim
    # gives null order-side rows; customers all match, so also demo a
    # filtered dim to produce null customer-side rows.
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    cust = t["customer"].select("c_custkey", "c_name")
    orders = t["orders"].filter(F.col("o_totalprice") > 200000.0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "full").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers having at least one pending order (LEFT SEMI)."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    pending = t["orders"].filter(F.col("o_orderstatus") == "P")
    return (
        t["customer"]
        .join(pending, t["customer"].c_custkey == pending.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no pending order (LEFT ANTI)."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    pending = t["orders"].filter(F.col("o_orderstatus") == "P")
    return (
        t["customer"]
        .join(pending, t["customer"].c_custkey == pending.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


@query(
    "join_cross",
    oracle="""
    SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian of the two tiny dims. Scale note: cross joins
    are only ever admitted between broadcast-sized relations."""
    t = load_tables(spark, sf_dir, ("region", "nation"))
    return t["region"].crossJoin(t["nation"]).select("r_name", "n_name")


@query(
    "join_multikey",
    oracle=f"""
    WITH q AS (SELECT l_returnflag, l_linestatus,
                      {osum("l_quantity")} AS sum_qty
               FROM lineitem GROUP BY l_returnflag, l_linestatus),
         p AS (SELECT l_returnflag, l_linestatus,
                      {osum("l_extendedprice")} AS sum_price
               FROM lineitem GROUP BY l_returnflag, l_linestatus)
    SELECT q.l_returnflag, q.l_linestatus, q.sum_qty, p.sum_price
    FROM q JOIN p ON q.l_returnflag = p.l_returnflag
               AND q.l_linestatus = p.l_linestatus
    """,
)
def join_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key equi-join of two aggregates on (returnflag, linestatus)."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    li = t["lineitem"]
    q = li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty")
    )
    p = li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_extendedprice").alias("sum_price")
    )
    return q.join(p, on=["l_returnflag", "l_linestatus"], how="inner")


@query(
    "join_theta_range",
    oracle="""
    WITH buckets AS (
      SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m_start,
             CAST(date_trunc('month', o_orderdate) + INTERVAL 1 MONTH AS TIMESTAMP)
               AS m_end
      FROM orders
    )
    SELECT b.m_start, COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS month_price
    FROM lineitem l JOIN buckets b
      ON l.l_shipdate >= b.m_start AND l.l_shipdate < b.m_end
    GROUP BY b.m_start
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (band) join: assign each lineitem to a month bucket via a
    pure range predicate.

    Scale note: the bucket side is tiny and broadcast, so the physical
    plan is BroadcastNestedLoopJoin — the only safe shape for a non-equi
    join at 100 TB (never cartesian two large relations; if both sides
    were big, pre-bucket both on a coarse key to make it equi+residual).
    """
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    buckets = (
        t["orders"]
        .select(F.date_trunc("month", "o_orderdate").alias("m_start"))
        .distinct()
        .withColumn("m_end", F.col("m_start") + F.expr("INTERVAL 1 MONTH"))
    )
    li = t["lineitem"]
    cond = (li.l_shipdate >= buckets.m_start) & (li.l_shipdate < buckets.m_end)
    return (
        li.join(F.broadcast(buckets), cond)
        .groupBy("m_start")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice").alias("month_price"),
        )
    )


@query(
    "join_broadcast",
    oracle=f"""
    SELECT n.n_name, COUNT(*) AS n_customers,
           {osum("c.c_acctbal")} AS total_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-hinted dim join: ship the 25-row nation table to every
    executor instead of shuffling the customer table."""
    t = load_tables(spark, sf_dir, ("customer", "nation"))
    return (
        t["customer"]
        .join(
            F.broadcast(t["nation"]),
            t["customer"].c_nationkey == t["nation"].n_nationkey,
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal").alias("total_bal"),
        )
    )


@query(
    "join_star3",
    oracle=f"""
    SELECT n.n_name, r.r_name,
           {osum("l.l_extendedprice * (1 - l.l_discount)", 4)} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
)
def join_star3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact lineitem through orders→customer→nation→region.

    Scale note: Catalyst broadcasts every dim under the threshold, so
    the fact table is never shuffled until the final small groupBy; AQE
    re-plans if a dim is unexpectedly large.
    """
    t = load_tables(
        spark, sf_dir, ("lineitem", "orders", "customer", "nation", "region")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name", "r_name")
        .agg(dsum(revenue, 4).alias("revenue"))
    )


def _click_purchase_union(spark, sf_dir):
    """Shared as-of scaffold: clicks carry their own ts in click_ts,
    purchases carry NULL — unioned so one ordered window pass per
    user can carry the nearest click timestamp across to purchases
    (backward, forward, and tolerance variants all ride this)."""
    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].select("event_id", "ts", "user_id", "event_type")
    clicks = ev.filter(F.col("event_type") == "click").withColumn(
        "click_ts", F.col("ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").withColumn(
        "click_ts", F.lit(None).cast("timestamp")
    )
    return clicks.unionByName(purchases)


@query(
    "join_asof",
    oracle="""
    SELECT p.event_id, p.ts, p.user_id,
           (SELECT MAX(c.ts) FROM events c
            WHERE c.event_type = 'click' AND c.user_id = p.user_id
              AND c.ts <= p.ts) AS last_click_ts
    FROM events p WHERE p.event_type = 'purchase'
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest click at-or-before it by
    the same user. Emulated the scalable way — union the two event sets
    and carry the last non-null click timestamp forward with a window,
    one shuffle on (user_id), no range join.

    At 100 TB this is the canonical pattern: sort-within-partition by
    time after hash-partitioning on the key; state is one value per row.
    """
    from pyspark.sql.window import Window

    # Order clicks before purchases at identical ts: 'click' < 'purchase'
    # lexically, so <= (at-or-before) semantics hold on ties.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_type"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        _click_purchase_union(spark, sf_dir)
        .withColumn("last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "ts", "user_id", "last_click_ts")
    )


@query(
    "join_fuzzy",
    oracle="""
    WITH b AS (SELECT DISTINCT p_brand FROM part)
    SELECT a.p_brand AS brand_a, c.p_brand AS brand_b,
           levenshtein(a.p_brand, c.p_brand) AS dist
    FROM b a, b c
    WHERE a.p_brand < c.p_brand
      AND levenshtein(a.p_brand, c.p_brand) <= 1
    """,
)
def join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) join: brand labels within Levenshtein
    distance 1 of each other — the catalog-reconciliation /
    entity-matching shape ("Brand#1" vs "Brand#13"). Levenshtein is
    the classic integer DP, identical on both engines, so the fuzzy
    predicate itself is oracle-exact.

    The deduplicated label set is tiny relative to the fact table —
    the correct shape is distinct-then-broadcast-cross over labels,
    never a fuzzy predicate on the raw table join. At 100 TB label
    sets that outgrow a broadcast get blocked first (length bucket +
    first-q-gram equi-keys) so the quadratic term is per-block, same
    skew discipline as the LSH bucket cap.
    """
    p = load_tables(spark, sf_dir, ("part",))["part"]
    b = p.select("p_brand").distinct()
    a = b.select(F.col("p_brand").alias("brand_a"))
    c = b.select(F.col("p_brand").alias("brand_b"))
    dist = F.levenshtein("brand_a", "brand_b")
    return (
        a.crossJoin(F.broadcast(c))
        .filter((F.col("brand_a") < F.col("brand_b")) & (dist <= 1))
        .select("brand_a", "brand_b", dist.alias("dist"))
    )


@query(
    "join_range_banded",
    oracle=f"""
    SELECT o.o_orderkey, COUNT(*) AS n_items,
           {osum("l.l_extendedprice")} AS week_price
    FROM orders o JOIN lineitem l
      ON l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
    WHERE o.o_orderkey % 32 = 0
    GROUP BY o.o_orderkey
    """,
)
def join_range_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big range join via banding: every lineitem shipped within 7
    days of each order's date, as an EQUI-join on a coarse time band
    plus a residual range filter — the scale shape for interval joins
    where NEITHER side fits a broadcast (join_theta_range covers the
    broadcast-dim case; this one covers two fact tables).

    Banding: day index → band = floor(day / 7). A 7-day interval
    overlaps at most two consecutive bands, so the interval side emits
    (band, band+1) — array_distinct keeps intervals aligned on a band
    boundary from emitting twice — while the point side emits its one
    band. The join is then a plain shuffle hash/merge join on the band
    key (partition-able, AQE-skew-splittable, never a nested loop);
    the exact range predicate runs as a residual filter on the ~2×
    inflated candidate stream. Candidate volume is output + one extra
    band per interval — linear, not quadratic. Plan test pins: no
    BroadcastNestedLoopJoin, no CartesianProduct.

    The interval side takes a deterministic ~3% slice (o_orderkey %
    32): an interval join's OUTPUT is inherently intervals × matches
    (every order matches ~a week of lineitems — the full cross at
    sf0.1 is ~260M candidate rows before the aggregate), so the slice
    keeps verification and bench measuring the join shape, not bulk
    row writing. The banded plan is identical at any slice width.

    Explosive-join parallelism (round-4 probe finding): this join's
    INPUTS are small relative to its candidate OUTPUT, so AQE's
    input-size-based partition coalescing would funnel the ~2×
    candidate stream through a handful of tasks — invisible to AQE
    because the explosion happens at join output, after the stats it
    coalesces on. The band key is therefore salted (orders explode ×S
    cheap copies, lineitem hashes into S buckets) and both sides are
    explicitly repartitioned on (band, salt) to the session's shuffle
    partition count, which pins the task count and spreads candidate
    generation evenly. The count stays above the core count on purpose:
    band buckets are uneven, and ``io.tasks_for``'s one task per core
    measured 1.45x slower than 32 partitions at sf0.1 on 4 cores. The
    wider-slice
    probe (r4 scale probe, git history; now tools/scale_probe.py)
    showed 16× intervals going
    superlinear (58.7 s) without the salt and linear (≈wall × slice)
    with it.
    """
    return _range_banded(spark, sf_dir, mod=32)


_BAND_SALTS = 8


def _range_banded(
    spark: SparkSession, sf_dir: str, mod: int, rem: int = 0
) -> DataFrame:
    """The banded interval join at slice ``o_orderkey % mod == rem``
    (see ``join_range_banded``; the probe runs wider slices — the
    sf10 slice certificate rotates ``rem`` per round so each round
    certifies fresh rows)."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    epoch = F.lit("1990-01-01")
    li = t["lineitem"].select(
        "l_extendedprice",
        "l_shipdate",
        F.floor(F.datediff(F.col("l_shipdate"), epoch) / 7).alias("band"),
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(_BAND_SALTS))
        .alias("salt"),
    ).repartition(n_part, "band", "salt")
    day = F.datediff(F.col("o_orderdate"), epoch)
    o = (
        t["orders"]
        .filter(F.col("o_orderkey") % mod == rem)
        .select(
            "o_orderkey",
            "o_orderdate",
            F.explode(
                F.array_distinct(
                    F.array(F.floor(day / 7), F.floor(day / 7) + 1)
                )
            ).alias("band"),
        )
        .withColumn(
            "salt",
            F.explode(F.array(*[F.lit(s) for s in range(_BAND_SALTS)])),
        )
        .repartition(n_part, "band", "salt")
    )
    return (
        li.join(o, ["band", "salt"])
        .filter(
            (F.col("l_shipdate") >= F.col("o_orderdate"))
            & (
                F.col("l_shipdate")
                < F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS")
            )
        )
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice").alias("week_price"),
        )
    )


@query(
    "join_skew_salted",
    oracle=f"""
    WITH dim AS (
      SELECT CASE WHEN p_partkey % 4 = 0 THEN -1 ELSE p_partkey END
               AS part_group,
             MIN(p_brand) AS brand
      FROM part GROUP BY 1
    ),
    fact AS (
      SELECT CASE WHEN l_partkey % 4 = 0 THEN -1 ELSE l_partkey END
               AS part_group,
             l_extendedprice
      FROM lineitem
    )
    SELECT d.brand, COUNT(*) AS n, {osum("f.l_extendedprice")} AS revenue
    FROM fact f JOIN dim d USING (part_group)
    GROUP BY d.brand
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted SHUFFLE join over a deliberately skewed key: ~25% of fact
    rows collapse into part_group -1, the single-reducer stall of a
    plain shuffle join at 100 TB. The join-side counterpart of
    agg_skew_salted.

    Salting: the fact side gets salt = l_orderkey % 16, the dim side
    is replicated once per salt value (16× a SMALL relation), and the
    join key becomes (part_group, salt) — the hot key's rows spread
    over 16 reducers. A shuffle-hash hint keeps the demonstration
    honest at fixture scale (Catalyst would otherwise broadcast the
    tiny dim and hide the salt's effect; at real scale the dim exceeds
    the broadcast threshold and this salted shuffle IS the plan —
    or AQE's skew-join split handles it without the rewrite, which the
    docstring of agg_skew_salted covers).
    """
    t = load_tables(spark, sf_dir, ("part", "lineitem"))
    group_of = lambda c: F.when(F.col(c) % 4 == 0, F.lit(-1)).otherwise(  # noqa: E731
        F.col(c)
    )
    dim = (
        t["part"]
        .groupBy(group_of("p_partkey").cast("long").alias("part_group"))
        .agg(F.min("p_brand").alias("brand"))
    )
    n_salts = 16
    dim_salted = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    fact = t["lineitem"].select(
        group_of("l_partkey").cast("long").alias("part_group"),
        (F.col("l_orderkey") % n_salts).alias("salt"),
        "l_extendedprice",
    )
    return (
        fact.join(dim_salted.hint("shuffle_hash"), ["part_group", "salt"])
        .groupBy("brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("l_extendedprice").alias("revenue"),
        )
    )


@query(
    "join_asof_tolerance",
    oracle="""
    SELECT p.event_id, p.ts, p.user_id,
           (SELECT MAX(c.ts) FROM events c
            WHERE c.event_type = 'click' AND c.user_id = p.user_id
              AND c.ts <= p.ts
              AND c.ts >= p.ts - INTERVAL 1 HOUR) AS last_click_ts
    FROM events p WHERE p.event_type = 'purchase'
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance: the latest click
    at-or-before each purchase, but only if it happened within the
    last hour — the attribution-window variant (a click from last week
    should not claim this purchase). pandas ``merge_asof(tolerance=)``
    semantics, distributed.

    Same single-shuffle union+window shape as ``join_asof``; the
    tolerance is one post-window NULL-out, so the scalable plan is
    untouched — no range join appears at any tolerance value.
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_type"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    last = F.last("click_ts", ignorenulls=True).over(w)
    return (
        _click_purchase_union(spark, sf_dir)
        .withColumn("raw_last", last)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "ts",
            "user_id",
            F.when(
                F.col("raw_last") >= F.col("ts") - F.expr("INTERVAL 1 HOUR"),
                F.col("raw_last"),
            ).alias("last_click_ts"),
        )
    )


@query(
    "join_asof_forward",
    oracle="""
    SELECT p.event_id, p.ts, p.user_id,
           (SELECT MIN(c.ts) FROM events c
            WHERE c.event_type = 'click' AND c.user_id = p.user_id
              AND c.ts >= p.ts) AS next_click_ts
    FROM events p WHERE p.event_type = 'purchase'
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: the EARLIEST click at-or-after each
    purchase (pandas ``merge_asof(direction='forward')``) — the
    "what happened next" attribution the backward variant can't
    answer. Same single-shuffle union+window plan as ``join_asof``,
    with the ordering reversed: descending time, clicks after
    purchases on ties ('purchase' < 'click' must hold, so the
    tiebreak orders by the event-kind flag), carrying the last
    non-null click timestamp backward.
    """
    from pyspark.sql.window import Window

    # Descending ts; at identical ts the click must be visible to the
    # purchase (>= semantics), so clicks sort BEFORE purchases in the
    # descending pass: is_click desc puts click first.
    is_click = (F.col("event_type") == "click").cast("int")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), is_click.desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        _click_purchase_union(spark, sf_dir)
        .withColumn("next_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "ts", "user_id", "next_click_ts")
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH p AS (
      SELECT event_id, ts, user_id,
             (SELECT MAX(c.ts) FROM events c
              WHERE c.event_type = 'click' AND c.user_id = p0.user_id
                AND c.ts <= p0.ts) AS back_ts,
             (SELECT MIN(c.ts) FROM events c
              WHERE c.event_type = 'click' AND c.user_id = p0.user_id
                AND c.ts >= p0.ts) AS fwd_ts
      FROM events p0 WHERE p0.event_type = 'purchase'
    )
    SELECT event_id, ts, user_id,
           CASE WHEN back_ts IS NULL THEN fwd_ts
                WHEN fwd_ts IS NULL THEN back_ts
                WHEN epoch_us(ts) - epoch_us(back_ts)
                     <= epoch_us(fwd_ts) - epoch_us(ts) THEN back_ts
                ELSE fwd_ts END AS nearest_click_ts,
           CASE WHEN back_ts IS NULL AND fwd_ts IS NULL THEN NULL
                WHEN fwd_ts IS NULL THEN 'backward'
                WHEN back_ts IS NULL THEN 'forward'
                WHEN epoch_us(ts) - epoch_us(back_ts)
                     <= epoch_us(fwd_ts) - epoch_us(ts) THEN 'backward'
                ELSE 'forward' END AS direction
    FROM p
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join (pandas ``merge_asof(direction='nearest')``):
    each purchase takes whichever click is closer in time — the
    backward match or the forward match — with ties to the backward
    side. Completes the as-of matrix next to ``join_asof`` (backward),
    ``join_asof_forward`` and ``join_asof_tolerance``.

    Plan: the same single-shuffle union scaffold, with BOTH directed
    carries computed as two window passes over the one user_id
    partitioning (ascending for the backward carry, descending for
    the forward carry — Spark reuses the exchange, re-sorting per
    window, never reshuffling). The tie-compare runs on exact
    microsecond integers (``unix_micros`` ≍ DuckDB ``epoch_us``), so
    'nearest' can never flip on a float rounding.
    """
    from pyspark.sql.window import Window

    is_click = (F.col("event_type") == "click").cast("int")
    wb = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_type"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), is_click.desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    both = (
        _click_purchase_union(spark, sf_dir)
        .withColumn("back_ts", F.last("click_ts", ignorenulls=True).over(wb))
        .withColumn("fwd_ts", F.last("click_ts", ignorenulls=True).over(wf))
        .filter(F.col("event_type") == "purchase")
    )
    d_back = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.col("back_ts").cast("timestamp")
    )
    d_fwd = F.unix_micros(F.col("fwd_ts").cast("timestamp")) - F.unix_micros(
        F.col("ts").cast("timestamp")
    )
    back_wins = F.col("fwd_ts").isNull() | (
        F.col("back_ts").isNotNull() & (d_back <= d_fwd)
    )
    return both.select(
        "event_id",
        "ts",
        "user_id",
        F.when(back_wins, F.col("back_ts"))
        .otherwise(F.col("fwd_ts"))
        .alias("nearest_click_ts"),
        F.when(
            F.col("back_ts").isNull() & F.col("fwd_ts").isNull(), F.lit(None)
        )
        .when(back_wins, F.lit("backward"))
        .otherwise(F.lit("forward"))
        .alias("direction"),
    )


@query(
    "join_null_safe",
    oracle="""
    WITH k AS (
      SELECT event_id, nullif(user_id % 10, 0) AS bucket, value
      FROM events
    ),
    agg AS (
      SELECT bucket, COUNT(*) AS n_right
      FROM k GROUP BY bucket
    )
    SELECT k.bucket, COUNT(*) AS n_events,
           CAST(MAX(a.n_right) AS BIGINT) AS bucket_size
    FROM k JOIN agg a ON k.bucket IS NOT DISTINCT FROM a.bucket
    GROUP BY k.bucket
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of silently dropping — the semantics a
    pipeline needs when the join key is legitimately absent (unknown
    cohort, unparsed field) and those rows must still land in a
    group. A tenth of the fixture's buckets are nulled via nullif to
    make the NULL-NULL path load-bearing: a plain equi-join would
    lose that entire group and the hash check would catch it.

    Plan note: Spark executes ``eqNullSafe`` as a hash join on the
    key's null-flag-extended form (still shuffle/broadcast-able, NOT
    a nested loop); the aggregate side here is tiny so it
    broadcasts.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    k = ev.select(
        "event_id",
        F.nullif(F.col("user_id") % 10, F.lit(0)).alias("bucket"),
        "value",
    )
    agg = k.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_right"))
    return (
        k.alias("k")
        .join(
            F.broadcast(agg).alias("a"),
            F.col("k.bucket").eqNullSafe(F.col("a.bucket")),
        )
        .groupBy(F.col("k.bucket").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("a.n_right").alias("bucket_size"),
        )
    )


@query(
    "join_runtime_bloom",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(SUM(l.l_quantity) AS BIGINT) AS sum_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY o.o_orderpriority
    """,
)
def join_runtime_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning: when a selectively-filtered
    build side meets a large probe side in a SHUFFLED join, Spark
    injects a bloom_filter_agg subquery on the build side and a
    might_contain() filter on the probe side's SCAN — probe rows with
    no possible match are dropped before the shuffle, the row-level
    analogue of dynamic partition pruning (which needs a partitioned
    table; this works on any layout). At 100 TB this is the
    difference between shuffling the whole fact and shuffling the
    ~20% that can match a filtered dimension.

    The key pins the thresholds so the filter injects at fixture
    scale and disables broadcast (a broadcast-hash join already
    prunes at the hash table — the Bloom path exists for the
    SMJ/shuffled-hash regime) — at production scale the DEFAULT
    thresholds (10 MB creation side / 10 GB probe scan) make the same
    decision automatically. Confs are restored after planning; the
    plan shape (might_contain on the probe scan) is asserted in
    tests/test_plans.py. Result values are ordinary join+aggregate
    output — the Bloom filter may only REMOVE provably-unmatchable
    rows, so the oracle is the plain join.
    """
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {}
    for k, v in confs.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
        spark.conf.set(k, v)
    try:
        t = load_tables(spark, sf_dir, ("orders", "lineitem"))
        o = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
        out = (
            t["lineitem"]
            .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            )
        )
        # materialize the plan under the pinned confs; lazy execution
        # later would otherwise plan under restored defaults
        out = out.localCheckpoint(eager=True)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out


@query(
    "join_interval_overlap",
    oracle="""
    WITH oi AS (
      SELECT o_orderkey, o_custkey,
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS s,
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               + o_orderkey % 14 + 1 AS e
      FROM orders
    ),
    li AS (
      SELECT l.l_orderkey, o2.o_custkey,
             datediff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE)) AS s,
             datediff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE))
               + l.l_linenumber % 7 + 1 AS e
      FROM lineitem l JOIN orders o2 ON l.l_orderkey = o2.o_orderkey
    )
    SELECT oi.o_orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_overlaps,
           CAST(COUNT(DISTINCT li.l_orderkey) AS BIGINT) AS n_ship_orders
    FROM oi JOIN li
      ON oi.o_custkey = li.o_custkey AND oi.s <= li.e AND li.s <= oi.e
    GROUP BY oi.o_orderkey
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval OVERLAP join via COMPOSITE (entity, band)
    two-sided banding — per customer, which of that customer's
    shipment windows overlap each of their orders' activity windows
    (s₁ ≤ e₂ ∧ s₂ ≤ e₁ within o_custkey).

    Naively this is a theta join (cartesian + filter — Spark would
    pick BroadcastNestedLoopJoin or worse). The banded plan: each
    interval EXPLODES to every 7-day band it touches (≤3 bands,
    bounded by interval_len/band + 1), the join becomes an EQUI-join
    on (custkey, band), and because an overlapping pair can share
    SEVERAL bands each match is kept only in its CANONICAL band (the
    band of the overlap's first day, GREATEST(s₁,s₂) DIV 7) — every
    pair survives exactly once with no dedup shuffle and no reliance
    on a unique right-side key. Forgetting the canonicalization
    double-counts pairs — the classic interval-join bug, pinned by
    the oracle's plain theta join.

    THE SCALE LESSON (learned from this key's own sf10 sweep failure):
    banding on TIME ALONE does not survive data growth when the time
    domain is fixed — the fixture spans ~2,400 days ≈ 343 weekly bands
    at EVERY sf, so per-band populations grow linearly with the data
    and the band-join's intermediate grows QUADRATICALLY (the r10
    sweep measured a 58 GB shuffle spill at 60M lineitem rows before
    the plan was killed; the un-scoped overlap count itself densifies
    the same way). The fix is the composite key: entity cardinality
    (customers) GROWS with the data while per-entity interval counts
    stay constant, so per-cell work — and the true overlap count — is
    O(1) per row and the whole join is linear. This is the general
    rule for interval joins over growing corpora: always carry a
    data-scaling partition dimension next to the time band.

    All interval arithmetic is integer epoch-days (date minus epoch on
    both engines), so band assignment and the overlap predicate are
    exact. The lineitem side acquires its custkey through a plain
    equi-join on orderkey (linear, AQE-planned); the overlap join then
    shuffles both sides once on (custkey, band).
    """
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    epoch = F.lit("1970-01-01")
    orders = t["orders"]
    oi = orders.select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate"), epoch).cast("long").alias("s"),
        (
            F.datediff(F.col("o_orderdate"), epoch).cast("long")
            + F.col("o_orderkey") % 14
            + 1
        ).alias("e"),
    )
    li = (
        t["lineitem"]
        .select(
            "l_orderkey",
            "l_linenumber",
            F.datediff(F.col("l_shipdate"), epoch).cast("long").alias("ls"),
            (
                F.datediff(F.col("l_shipdate"), epoch).cast("long")
                + F.col("l_linenumber") % 7
                + 1
            ).alias("le"),
        )
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .drop("o_orderkey")
    )
    ob = oi.select(
        "o_orderkey",
        "o_custkey",
        "s",
        "e",
        F.explode(
            F.sequence(F.expr("s DIV 7"), F.expr("e DIV 7"))
        ).alias("band"),
    )
    lb = li.select(
        F.col("o_custkey").alias("l_custkey"),
        "l_orderkey",
        "l_linenumber",
        "ls",
        "le",
        F.explode(
            F.sequence(F.expr("ls DIV 7"), F.expr("le DIV 7"))
        ).alias("l_band"),
    )
    pairs = (
        ob.join(
            lb,
            (F.col("o_custkey") == F.col("l_custkey"))
            & (F.col("band") == F.col("l_band")),
        )
        .filter((F.col("s") <= F.col("le")) & (F.col("ls") <= F.col("e")))
        # a pair sharing k bands appears k times: keep it only in its
        # CANONICAL band — the band of the overlap's first day — so
        # every overlap survives exactly once without a distinct (which
        # would also wrongly collapse physically-duplicate right rows)
        .filter(F.col("band") == F.expr("GREATEST(s, ls) DIV 7"))
        .select("o_orderkey", "l_orderkey")
    )
    return pairs.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_overlaps"),
        F.countDistinct("l_orderkey").alias("n_ship_orders"),
    )
