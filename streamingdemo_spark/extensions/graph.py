"""Graph analytics over relational data: iterative PageRank on the
customer↔supplier co-purchase graph.

The reference's unrestricted SQL entry point (``SparkOperator.java``
C1 surface) lets users run relational queries; iterative graph
algorithms are the canonical workload *beyond* one-shot SQL, and the
pattern here — edge-list DataFrame, per-iteration join + aggregate,
eager ``localCheckpoint`` to truncate lineage — is the same loop
discipline as the connected-components labeller in
``extensions/dedup.py`` (min_label_components).

Portability discipline: ranks are kept as integer *nano-units*
(1 rank = 1e9 units) through every iteration, so every sum is an
exact, order-insensitive integer and the DuckDB oracle replays the
whole fixed-point computation bit-for-bit — no float accumulation
anywhere. Integer division drops at most 1e-9 of mass per edge per
iteration, which is far below any ranking-relevant difference and is
identical on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamingdemo_spark.io import load_tables
from streamingdemo_spark.registry import query

# One rank unit = 1e-9; damping 0.85 expressed as the exact integer
# pair (85, 100) so both engines do the same integer arithmetic.
_UNIT = 1_000_000_000
_ITERATIONS = 3


@query(
    "ext_graph_pagerank",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (
      SELECT c AS src, s AS dst FROM pairs
      UNION ALL
      SELECT s AS src, c AS dst FROM pairs
    ),
    deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    base AS (
      SELECT d.node, d.outdeg,
             CAST(15000000000 AS BIGINT) // (100 * nn.n) AS b,
             CAST({_UNIT} AS BIGINT) // nn.n AS r
      FROM deg d CROSS JOIN nn
    ),
    s1 AS MATERIALIZED (SELECT e.dst AS node, CAST(SUM(r.r // r.outdeg) AS BIGINT) AS s
           FROM edges e JOIN base r ON e.src = r.node GROUP BY e.dst),
    r1 AS (SELECT b.node, b.outdeg, b.b,
                  b.b + (85 * COALESCE(s1.s, 0)) // 100 AS r
           FROM base b LEFT JOIN s1 ON b.node = s1.node),
    s2 AS MATERIALIZED (SELECT e.dst AS node, CAST(SUM(r.r // r.outdeg) AS BIGINT) AS s
           FROM edges e JOIN r1 r ON e.src = r.node GROUP BY e.dst),
    r2 AS (SELECT b.node, b.outdeg, b.b,
                  b.b + (85 * COALESCE(s2.s, 0)) // 100 AS r
           FROM r1 b LEFT JOIN s2 ON b.node = s2.node),
    s3 AS (SELECT e.dst AS node, CAST(SUM(r.r // r.outdeg) AS BIGINT) AS s
           FROM edges e JOIN r2 r ON e.src = r.node GROUP BY e.dst),
    r3 AS (SELECT b.node, b.b + (85 * COALESCE(s3.s, 0)) // 100 AS r
           FROM r2 b LEFT JOIN s3 ON b.node = s3.node)
    SELECT node AS node_id,
           CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           r AS rank_nano
    FROM r3
    """,
)
def ext_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (3 iterations, damping 0.85) over the
    undirected customer↔supplier co-purchase graph.

    Graph construction: one distinct-pair projection of
    ``lineitem ⋈ orders`` (customer bought from supplier), node ids
    disambiguated by parity (customer → 2k, supplier → 2k+1), each
    pair emitted in both directions so every node has out-degree ≥ 1
    (no dangling-mass correction needed).

    Scale shape: each iteration is ONE shuffle join (edges ⋈ ranks on
    src — both sides hash-partitioned on the same key, so AQE reuses
    the exchange) plus one aggregate with map-side partial combine;
    state between iterations is a node-sized DataFrame, and the
    fixed 3-round loop runs as one planned dataflow (checkpointing
    every round doubled the sf0.1 wall: 3.54 s → 1.71 s measured).
    Rank state is node-count-sized, edges dominate: at 100 TB
    pre-partition the edge list once by src and persist it; every
    iteration then shuffles only the node-sized rank relation.

    Fixed iteration count (PageRank is itself an approximation); the
    convergence-probed variant of this loop lives in
    ``min_label_components`` (extensions/dedup.py) and applies here
    unchanged if a tolerance stop is wanted.
    """
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    pairs = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    # Materialize the edge list once: it is reused by all iterations
    # (and by the degree count), so re-deriving it from the base scan
    # every pass would re-run the distinct 4 times.
    edges = edges.localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    nn = deg.agg(F.count(F.lit(1)).alias("n"))
    ranks = deg.withColumnRenamed("src", "node").crossJoin(
        F.broadcast(nn)
    ).select(
        "node",
        "outdeg",
        F.expr("CAST(15000000000 AS BIGINT) div (100 * n)").alias("b"),
        F.expr(f"CAST({_UNIT} AS BIGINT) div n").alias("r"),
    )
    for _ in range(_ITERATIONS):
        contribs = edges.join(
            ranks.withColumnRenamed("node", "src"), "src"
        ).select(F.col("dst").alias("node"), F.expr("r div outdeg").alias("contrib"))
        sums = contribs.groupBy("node").agg(F.sum("contrib").alias("s"))
        ranks = (
            ranks.drop("r")
            .join(sums, "node", "left")
            .select(
                "node",
                "outdeg",
                "b",
                (
                    F.col("b")
                    + F.expr("85 * coalesce(s, CAST(0 AS BIGINT)) div 100")
                ).alias("r"),
            )
        )
    return ranks.select(
        F.col("node").alias("node_id"),
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.col("r").alias("rank_nano"),
    )


_KNN_K = 8  # backbone degree bound: top-k strongest co-occurrence edges

# CTE chain building the mutual-top-k co-purchase backbone; ends in
# ``mut(ea, eb)`` with ea < eb. Shared by ext_graph_triangles and
# ext_graph_bfs_distance.
_BACKBONE_CTE = f"""os AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s
                FROM lineitem),
    co AS MATERIALIZED (
      SELECT a.s AS pa, b.s AS pb, COUNT(*) AS w
      FROM os a JOIN os b ON a.o = b.o AND a.s < b.s
      GROUP BY a.s, b.s
    ),
    sym AS (
      SELECT pa AS node, pb AS nbr, w FROM co
      UNION ALL
      SELECT pb AS node, pa AS nbr, w FROM co
    ),
    topk AS MATERIALIZED (
      SELECT node, nbr FROM (
        SELECT node, nbr,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY w DESC, nbr) AS rk
        FROM sym)
      WHERE rk <= {_KNN_K}
    ),
    mut AS MATERIALIZED (
      SELECT t1.node AS ea, t1.nbr AS eb
      FROM topk t1 JOIN topk t2
        ON t1.node = t2.nbr AND t1.nbr = t2.node
      WHERE t1.node < t1.nbr
    )"""


def _backbone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-top-k co-purchase backbone as (ea, eb) with ea < eb —
    the Spark mirror of ``_BACKBONE_CTE`` (see ext_graph_triangles for
    the construction rationale). localCheckpointed: node-bounded
    (<= k*n/2 rows) and reused by several downstream branches."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, ("lineitem",))
    os_ = (
        t["lineitem"]
        .select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    co = (
        os_.alias("a")
        .join(
            os_.alias("b"),
            (F.col("a.o") == F.col("b.o")) & (F.col("a.s") < F.col("b.s")),
        )
        .groupBy(F.col("a.s").alias("pa"), F.col("b.s").alias("pb"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    sym = co.select(
        F.col("pa").alias("node"), F.col("pb").alias("nbr"), "w"
    ).unionAll(
        co.select(F.col("pb").alias("node"), F.col("pa").alias("nbr"), "w")
    )
    wk = Window.partitionBy("node").orderBy(F.desc("w"), F.asc("nbr"))
    topk = (
        sym.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _KNN_K)
        .select("node", "nbr")
    )
    return (
        topk.alias("t1")
        .join(
            topk.alias("t2"),
            (F.col("t1.node") == F.col("t2.nbr"))
            & (F.col("t1.nbr") == F.col("t2.node")),
        )
        .filter(F.col("t1.node") < F.col("t1.nbr"))
        .select(F.col("t1.node").alias("ea"), F.col("t1.nbr").alias("eb"))
        .localCheckpoint(eager=True)
    )


@query(
    "ext_graph_triangles",
    oracle=f"""
    WITH {_BACKBONE_CTE},
    tri AS (
      SELECT e1.ea AS x, e1.eb AS y, e2.eb AS z
      FROM mut e1
      JOIN mut e2 ON e1.ea = e2.ea AND e1.eb < e2.eb
      JOIN mut e3 ON e3.ea = e1.eb AND e3.eb = e2.eb
    ),
    nodes AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    ),
    ntri AS (SELECT node, COUNT(*) AS n_tri FROM nodes GROUP BY node),
    degs AS (SELECT ea AS node FROM mut UNION ALL SELECT eb FROM mut),
    deg AS (SELECT node, COUNT(*) AS deg FROM degs GROUP BY node)
    SELECT deg.node AS supplier, CAST(deg.deg AS BIGINT) AS deg,
           CAST(COALESCE(ntri.n_tri, 0) AS BIGINT) AS n_tri
    FROM deg LEFT JOIN ntri ON ntri.node = deg.node
    """,
)
def ext_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the mutual-top-k co-purchase
    backbone — the community-structure primitive (clustering
    coefficients, cohesive-group detection) run the way it survives
    scale: NOT on the raw co-occurrence graph, which densifies as
    data grows (every popular supplier pair eventually shares an
    order, and triangle counting on a near-clique is Θ(n³)), but on
    a degree-BOUNDED backbone.

    Pipeline:
    1. supplier co-occurrence weights: one self-join of the distinct
       (order, supplier) relation per order key, aggregated to
       (a, b, w) — shuffle bounded by per-order supplier pairs;
    2. backbone: each node keeps its top-{_KNN_K} strongest neighbors
       (w desc, id tiebreak; a per-node window), and an edge survives
       only if BOTH endpoints kept it (mutual k-NN) — out-degree is
       ≤ {_KNN_K} BY CONSTRUCTION, independent of corpus size;
    3. triangles: orient surviving edges a < b and join wedges
       (e1.a=e2.a) against closing edges — with degree ≤ k the wedge
       relation is ≤ n·C(k,2) rows, so the classic self-join triangle
       count is linear in nodes instead of cubic;
    4. per-node participation: explode each triangle's 3 corners,
       count, left-join back onto backbone degrees (nodes in
       triangle-free neighborhoods report 0).

    The same shape counts triangles on ANY similarity backbone — swap
    stage 1-2 for ``ext_sim_knn_join``'s k-NN graph and this becomes
    embedding-cluster cohesion scoring.

    Exactness: pure integer counting end-to-end; ties in the top-k
    cut are pinned by (w DESC, nbr ASC), identical on both engines.

    100 TB: stage 1 is the only corpus-sized pass; stages 2-4 are
    node-bounded. The orientation trick (count each triangle once
    from its smallest corner) is what keeps the join fan-out
    triangular rather than 6x, and the mutual-k-NN cut is the
    standard backboning discipline for co-occurrence graphs whose
    raw density grows with data volume.
    """
    mut = _backbone(spark, sf_dir)
    tri = (
        mut.alias("e1")
        .join(
            mut.alias("e2"),
            (F.col("e1.ea") == F.col("e2.ea"))
            & (F.col("e1.eb") < F.col("e2.eb")),
        )
        .join(
            mut.alias("e3"),
            (F.col("e3.ea") == F.col("e1.eb"))
            & (F.col("e3.eb") == F.col("e2.eb")),
        )
        .select(
            F.col("e1.ea").alias("x"),
            F.col("e1.eb").alias("y"),
            F.col("e2.eb").alias("z"),
        )
    )
    nodes = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    ntri = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))
    degs = mut.select(F.col("ea").alias("node")).unionAll(
        mut.select(F.col("eb").alias("node"))
    )
    deg = degs.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    return deg.join(ntri, "node", "left").select(
        F.col("node").alias("supplier"),
        F.col("deg").cast("long").alias("deg"),
        F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_tri"),
    )


_BFS_HOPS = 3
_BFS_SEED_MOD = 50  # seed set: suppliers with id % 50 == 0


@query(
    "ext_graph_bfs_distance",
    oracle=f"""
    WITH {_BACKBONE_CTE},
    e AS MATERIALIZED (SELECT ea AS u, eb AS v FROM mut
          UNION ALL SELECT eb AS u, ea AS v FROM mut),
    nodes AS (SELECT DISTINCT u AS node FROM e),
    s0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist FROM nodes
           WHERE node % {_BFS_SEED_MOD} = 0),
    s1 AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM (
             SELECT node, dist FROM s0
             UNION ALL
             SELECT e.v AS node, s0.dist + 1 AS dist
             FROM s0 JOIN e ON e.u = s0.node)
           GROUP BY node),
    s2 AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM (
             SELECT node, dist FROM s1
             UNION ALL
             SELECT e.v AS node, s1.dist + 1 AS dist
             FROM s1 JOIN e ON e.u = s1.node)
           GROUP BY node),
    s3 AS (SELECT node, MIN(dist) AS dist FROM (
             SELECT node, dist FROM s2
             UNION ALL
             SELECT e.v AS node, s2.dist + 1 AS dist
             FROM s2 JOIN e ON e.u = s2.node)
           GROUP BY node)
    SELECT node AS supplier, CAST(dist AS INT) AS dist FROM s3
    """,
)
def ext_graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the co-purchase backbone: hop distance
    from a seed set (every {_BFS_SEED_MOD}th supplier — 'hub'
    accounts) to every node within {_BFS_HOPS} hops — the influence-
    radius / contamination-reach primitive (how far does a flagged
    account's neighborhood extend?), and the third member of the
    iterative-graph family after PageRank (fixed-point scores) and
    min-label components (convergence loop).

    Each hop is ONE join + ONE min-aggregate: frontier ⋈ edges
    produces dist+1 candidates, unioned with the current labels and
    min-reduced — the standard min-plus BFS step, unrolled
    {_BFS_HOPS} times (the ``ext_graph_pagerank`` discipline) so the
    DuckDB oracle replays every hop. Unreached nodes simply never
    appear (no sentinel infinities to diverge on). Pure integer
    distances; ties need no breaking (MIN is associative).

    Scale shape: per hop the shuffle is |frontier ∪ labels| ⋈ edges
    on the node key — bounded by k·n (backbone degree ≤ {_KNN_K});
    the fixed short hops plan as one dataflow. At real scale seeds
    come from a table, hops from a loop with a convergence check (count of changed labels =
    0), exactly like ``min_label_components``.
    """
    mut = _backbone(spark, sf_dir)
    e = mut.select(
        F.col("ea").alias("u"), F.col("eb").alias("v")
    ).unionAll(mut.select(F.col("eb").alias("u"), F.col("ea").alias("v")))
    nodes = e.select(F.col("u").alias("node")).distinct()
    labels = nodes.filter(F.col("node") % _BFS_SEED_MOD == 0).select(
        "node", F.lit(0).cast("long").alias("dist")
    )
    for _ in range(_BFS_HOPS):
        hop = labels.join(e, labels["node"] == e["u"]).select(
            F.col("v").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        labels = (
            labels.unionAll(hop)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
    return labels.select(
        F.col("node").alias("supplier"), F.col("dist").cast("int").alias("dist")
    )


_LPA_ITERS = 3


@query(
    "ext_graph_label_prop",
    oracle=f"""
    WITH {_BACKBONE_CTE},
    edges AS MATERIALIZED (
      SELECT ea AS node, eb AS nbr FROM mut
      UNION ALL SELECT eb, ea FROM mut
    ),
    l0 AS (SELECT DISTINCT node, node AS lbl FROM edges),
    c1 AS (SELECT e.node, l.lbl, COUNT(*) AS c
           FROM edges e JOIN l0 l ON e.nbr = l.node GROUP BY e.node, l.lbl),
    l1 AS (SELECT node, lbl FROM (
             SELECT node, lbl,
                    ROW_NUMBER() OVER (PARTITION BY node
                                       ORDER BY c DESC, lbl) AS rn
             FROM c1) WHERE rn = 1),
    c2 AS (SELECT e.node, l.lbl, COUNT(*) AS c
           FROM edges e JOIN l1 l ON e.nbr = l.node GROUP BY e.node, l.lbl),
    l2 AS (SELECT node, lbl FROM (
             SELECT node, lbl,
                    ROW_NUMBER() OVER (PARTITION BY node
                                       ORDER BY c DESC, lbl) AS rn
             FROM c2) WHERE rn = 1),
    c3 AS (SELECT e.node, l.lbl, COUNT(*) AS c
           FROM edges e JOIN l2 l ON e.nbr = l.node GROUP BY e.node, l.lbl),
    l3 AS (SELECT node, lbl FROM (
             SELECT node, lbl,
                    ROW_NUMBER() OVER (PARTITION BY node
                                       ORDER BY c DESC, lbl) AS rn
             FROM c3) WHERE rn = 1)
    SELECT node AS supplier, lbl AS community,
           CAST(COUNT(*) OVER (PARTITION BY lbl) AS BIGINT) AS n_members
    FROM l3
    """,
)
def ext_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) on the mutual-top-k co-purchase backbone: every node
    starts as its own community and repeatedly adopts the most frequent
    label among its neighbors (ties -> smallest label), here unrolled
    to a fixed {_LPA_ITERS} synchronous rounds so the computation is a
    pure dataflow both engines replay exactly — the deterministic
    variant of the usually-randomized LPA sweep.

    Shape per round: one edges⋈labels join (both sides keyed by
    node id), one (node, label) count aggregate, one per-node argmax
    window — all shuffles on the node key, state is one row per node,
    and the fixed rounds plan as one dataflow like
    ``ext_graph_pagerank``. The backbone bounds degree at
    {_KNN_K}, so each round moves at most k·n rows — at 100 TB the
    rounds are k·n-shuffle-bounded, never edge-quadratic; synchronous
    update keeps results independent of partitioning (asynchronous
    LPA is faster to converge but schedule-dependent).

    Reference parity: north-star extension beyond the reference's SQL
    surface (src/sparkSQL/SparkSQLOperator.java:17-23), SURVEY §2.F.
    """
    from pyspark.sql.window import Window

    mut = _backbone(spark, sf_dir)
    edges = mut.select(
        F.col("ea").alias("node"), F.col("eb").alias("nbr")
    ).unionAll(mut.select(F.col("eb").alias("node"), F.col("ea").alias("nbr")))
    edges = edges.localCheckpoint(eager=True)
    labels = edges.select("node").distinct().select(
        "node", F.col("node").alias("lbl")
    )
    wa = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("lbl"))
    for _ in range(_LPA_ITERS):
        counted = (
            edges.join(
                labels.select(F.col("node").alias("nbr"), "lbl"), "nbr"
            )
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            counted.withColumn("rn", F.row_number().over(wa))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )
    wc = Window.partitionBy("lbl")
    return labels.select(
        F.col("node").alias("supplier"),
        F.col("lbl").alias("community"),
        F.count(F.lit(1)).over(wc).alias("n_members"),
    )


LINKPRED_TOPK = 20


@query(
    "ext_graph_link_predict",
    oracle=f"""
    WITH {_BACKBONE_CTE},
    edges AS MATERIALIZED (
      SELECT ea AS node, eb AS nbr FROM mut
      UNION ALL SELECT eb, ea FROM mut
    ),
    deg AS (SELECT node, COUNT(*) AS d FROM edges GROUP BY node),
    wedge AS (
      SELECT e1.nbr AS a, e2.nbr AS c, COUNT(*) AS cn
      FROM edges e1 JOIN edges e2
        ON e1.node = e2.node AND e1.nbr < e2.nbr
      GROUP BY e1.nbr, e2.nbr
    ),
    cand AS (
      SELECT w.a, w.c, w.cn FROM wedge w
      LEFT JOIN mut m ON m.ea = w.a AND m.eb = w.c
      WHERE m.ea IS NULL
    ),
    scored AS (
      SELECT a, c, cn,
             (cn * 1000000) // (da.d + dc.d - cn) AS jac_micro
      FROM cand
      JOIN deg da ON cand.a = da.node
      JOIN deg dc ON cand.c = dc.node
    )
    SELECT a AS supplier_a, c AS supplier_b, cn AS common_nbrs,
           jac_micro, rk
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY jac_micro DESC, a, c)
                    AS rk
          FROM scored)
    WHERE rk <= {LINKPRED_TOPK}
    """,
)
def ext_graph_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood Jaccard (Liben-Nowell & Kleinberg
    2003): rank NON-edges of the mutual-top-k backbone by
    |N(a)∩N(b)| / |N(a)∪N(b)| — the classic "suppliers that should be
    co-purchased but aren't yet" recommendation, and the fourth member
    of the graph family (PageRank = importance, triangles = cohesion,
    BFS = reach, this = missing structure).

    Shape: common neighbors come from ONE wedge join over the
    degree-bounded edge list (each node's neighbor list ≤ {_KNN_K}, so
    wedges ≤ k²·n — never quadratic in nodes), existing edges drop via
    an anti join against the backbone, degrees join from a node-sized
    relation, and the score is pure integer arithmetic
    (cn·1e6 div (da+db−cn)) so both engines rank identically. Top-k
    over the candidate relation. At 100 TB the same degree bound is
    what keeps social-scale link prediction tractable.

    Reference parity: north-star extension beyond the reference's SQL
    surface (src/sparkSQL/SparkSQLOperator.java:17-23), SURVEY §2.F.
    """
    from pyspark.sql.window import Window

    mut = _backbone(spark, sf_dir)
    edges = mut.select(
        F.col("ea").alias("node"), F.col("eb").alias("nbr")
    ).unionAll(mut.select(F.col("eb").alias("node"), F.col("ea").alias("nbr")))
    edges = edges.localCheckpoint(eager=True)
    deg = edges.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    wedge = (
        edges.alias("e1")
        .join(
            edges.alias("e2"),
            (F.col("e1.node") == F.col("e2.node"))
            & (F.col("e1.nbr") < F.col("e2.nbr")),
        )
        .groupBy(F.col("e1.nbr").alias("a"), F.col("e2.nbr").alias("c"))
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    cand = wedge.join(
        mut,
        (F.col("a") == F.col("ea")) & (F.col("c") == F.col("eb")),
        "left_anti",
    )
    scored = (
        cand.join(deg.select(F.col("node").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("node").alias("c"), F.col("d").alias("dc")), "c")
        .select(
            "a",
            "c",
            "cn",
            F.expr("(cn * 1000000) DIV (da + dc - cn)").alias("jac_micro"),
        )
    )
    w = Window.orderBy(F.desc("jac_micro"), F.asc("a"), F.asc("c"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= LINKPRED_TOPK)
        .select(
            F.col("a").alias("supplier_a"),
            F.col("c").alias("supplier_b"),
            F.col("cn").alias("common_nbrs"),
            "jac_micro",
            "rk",
        )
    )
