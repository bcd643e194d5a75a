"""Near-duplicate cluster assignment — the step between pair-finding
(``dedup_simhash_pairs``) and keep-one-per-group training-data semantics.

A pair list alone cannot drive dedup: if A~B and B~C but not A~C, dropping
"the second of every pair" loses C's group membership. The standard fix is
connected components over the near-dup graph; every document gets a
``cluster_id`` (= min doc_id reachable) and exactly one member per cluster
is canonical.

Scale shape: iterative min-label propagation with pointer jumping
(hop-doubling), the Spark-native analog of the MapReduce "Hash-to-Min" /
large-star small-star family (Rastogi et al., "Finding Connected Components
in Map-Reduce in Logarithmic Rounds"). Each round is two equi-joins — one
shuffle on the edge src, one on the label key — and rounds grow as
O(log diameter), not O(diameter). Near-dup graphs are quasi-cliques
(diameter 2-3), so 3-4 rounds converge even at corpus scale. The per-round
``catalog.share`` truncates lineage so plans stay bounded, and the
convergence probe is a single scalar aggregate (labels are monotone
non-increasing, so an unchanged sum == fixpoint).

Reference analog: the notebook's dedup surface stops at pair reports; this
operator is part of the training-pipeline extension surface (SURVEY.md §7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databricks_spark_sql_challenge1_spark.catalog import load_table, share
from databricks_spark_sql_challenge1_spark.functions.text import ws_tokens, ws_tokens_sql
from databricks_spark_sql_challenge1_spark.operators.abandonment import (
    TOP_ABANDONED_PAIRS_SQL,
)
from databricks_spark_sql_challenge1_spark.operators.dedup import (
    _simhash_pairs_sql,
    dedup_simhash_pairs,
)
from databricks_spark_sql_challenge1_spark.registry import query

# Hop-doubling halves the unresolved path length every round; 20 rounds
# resolve diameters up to 2^20 — far past any real near-dup graph.
CC_MAX_ROUNDS = 20


def connected_components(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """Generic distributed connected components.

    ``nodes``: one column of integer node ids (first column used);
    ``pairs``: two columns of undirected edge endpoints (first two used),
    and every endpoint MUST be a member of ``nodes`` (ADVICE r18: the
    round-18 union+min rewrite of part 1 gives an out-of-``nodes`` dst its
    own label row, where the pre-r18 left-join shape silently dropped it —
    all callers derive pairs from the same table as nodes, so the contract
    holds by construction; a caller with external edges must pre-semi-join
    pairs on nodes).
    Returns (doc_id, cluster_id) with cluster_id = min reachable node id.
    Algorithm and scale shape documented in the module docstring; the
    algebra is pinned against a pure-Python union-find on random graphs in
    tests/test_properties.py.
    """
    nid = nodes.columns[0]
    a, b = pairs.columns[:2]
    # symmetrize in ONE scan of pairs (explode, not self-union): pairs is
    # typically an expensive join (e.g. the SimHash band join) and a union
    # would evaluate it twice inside the materializing action; shared
    # because every round reads it
    edges = share(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(a).alias("src"), F.col(b).alias("dst")),
                    F.struct(F.col(b).alias("src"), F.col(a).alias("dst")),
                )
            ).alias("e")
        ).select("e.src", "e.dst"),
        "cc.edges",
    )
    labels = share(
        nodes.select(F.col(nid).alias("doc_id"), F.col(nid).alias("cluster_id")),
        "cc.labels0",
    )
    prev_sum = labels.agg(F.sum("cluster_id")).first()[0]
    for _ in range(CC_MAX_ROUNDS):
        # round part 1: every node adopts min(own label, neighbors' labels).
        # Round-18 optimization (guide §2.4 — share/remove exchanges): the
        # former nbr-aggregate + left-join-least shape was three shuffles,
        # and `stepped` fed BOTH sides of the pointer jump unmaterialized,
        # so the whole part-1 subtree evaluated twice per round. Now part 1
        # is one union + one min-aggregate (same algebra: min(own, nbr
        # mins); a node with no in-edges keeps its own label because the
        # union always carries it), and `stepped` is shared so the jump
        # self-join reads it materialized on both sides.
        prop = edges.join(labels, edges["src"] == labels["doc_id"]).select(
            F.col("dst").alias("doc_id"), "cluster_id"
        )
        stepped = share(
            labels.unionByName(prop)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id")),
            "cc.stepped",
        )
        # round part 2: pointer jump — cluster_id := label(cluster_id).
        # Labels are node ids, so the lookup is a self-join; this is the
        # hop-doubling that makes convergence logarithmic in path length.
        jump = stepped.select(
            F.col("doc_id").alias("j_id"), F.col("cluster_id").alias("j_cluster")
        )
        # shared: the sum probe and the next round read it, and the loop's
        # lineage is cut here
        labels = share(
            stepped.alias("s")
            .join(jump.alias("j"), F.col("s.cluster_id") == F.col("j.j_id"))
            .select(
                F.col("s.doc_id").alias("doc_id"),
                F.col("j.j_cluster").alias("cluster_id"),
            ),
            "cc.labels",
        )
        # labels only ever decrease, so an unchanged sum is a fixpoint
        cur_sum = labels.agg(F.sum("cluster_id")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels

def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) labels over the SimHash near-dup graph — the
    shared prefix of every clustering query, without the presentation-only
    window/sort that ``dedup_cluster_components`` adds on top.

    Computed fresh per call (round 19): the former per-(applicationId,
    sf_dir) memo served the materialized labels across separately-timed
    queries and across a query's own timed repeats — a module-level result
    memo, i.e. measurement inflation of exactly the class VERDICT r18 #1
    decontaminated out of the bench, not an optimization of the query.
    Within ONE call the loop's shared frames still share every round's
    work across both plan references, which is the legitimate §5 sharing.
    """
    pairs = dedup_simhash_pairs(spark, sf_dir).select("doc_1", "doc_2")
    nodes = load_table(spark, sf_dir, "documents", spread=True).select("doc_id")
    return connected_components(nodes, pairs)


def _min_label_ctes(nodes_sql: str, node: str, label: str) -> str:
    """Oracle-side connected components over an ``edges(src, dst)`` CTE:
    recursive min-label propagation. Every node of ``nodes_sql`` starts
    labelled with its own id; each round a node takes ``LEAST(own label,
    MIN(neighbour label))``, and the recursion stops after the first round
    in which no label changed, so ``lab({node}, {label})`` holds that
    round's rows — the min id of each node's component. Each round is one
    join over the edge list and rounds grow with the graph diameter,
    where an all-pairs reachability closure grows with the square of the
    component size (it never finished on the sf0.1 SimHash graph). It
    shares nothing with the Spark side's pointer jumping or its label-sum
    convergence probe."""
    return f"""prop(it, node, label, changed) AS (
    SELECT 0, id, id, TRUE FROM ({nodes_sql}) AS n(id)
    UNION ALL
    SELECT p.it + 1, p.node, LEAST(p.label, MIN(q.label)),
           LEAST(p.label, MIN(q.label)) < p.label
    FROM prop p
    LEFT JOIN edges e ON e.src = p.node
    LEFT JOIN prop q ON q.node = e.dst
    WHERE EXISTS (SELECT 1 FROM prop WHERE changed)
    GROUP BY p.it, p.node, p.label
),
lab AS (
    SELECT node AS {node}, label AS {label} FROM prop
    WHERE it = (SELECT MAX(it) FROM prop)
)"""


# Shared recursive prefix: SimHash signatures → near-dup pairs → symmetric
# edges → min-label propagation per node.
_CC_LAB_SQL = f"""
WITH RECURSIVE
pairs AS ({_simhash_pairs_sql("narrow32")}),
edges AS (
    SELECT doc_1 AS src, doc_2 AS dst FROM pairs
    UNION ALL
    SELECT doc_2 AS src, doc_1 AS dst FROM pairs
),
{_min_label_ctes("SELECT doc_id FROM documents", "doc_id", "cluster_id")}
"""


@query(
    "dedup_cluster_components",
    oracle=f"""{_CC_LAB_SQL}
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS is_canonical
FROM lab
ORDER BY doc_id ASC
""",
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the SimHash near-dup graph.

    cluster_id = min doc_id in the component (singletons cluster with
    themselves); exactly one canonical row per cluster. The oracle computes
    the same fixpoint via a DuckDB recursive CTE (``_min_label_ctes``:
    one-hop min-label rounds until no label changes), while the Spark side
    uses logarithmic-round label propagation with pointer jumping.
    """
    labels = _cluster_labels(spark, sf_dir)
    w = Window.partitionBy("cluster_id")
    return (
        labels.withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
        .orderBy(F.col("doc_id").asc())
    )


@query(
    "dedup_keep_best",
    oracle=f"""{_CC_LAB_SQL},
tok AS (
    SELECT doc_id, len({ws_tokens_sql()}) AS n_tokens FROM documents
),
j AS (
    SELECT l.doc_id, l.cluster_id, t.n_tokens
    FROM lab l JOIN tok t ON t.doc_id = l.doc_id
),
r AS (
    SELECT *,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY n_tokens DESC, doc_id ASC) AS rk,
           COUNT(*) OVER (PARTITION BY cluster_id) AS sz
    FROM j
)
SELECT cluster_id,
       doc_id AS kept_doc_id,
       CAST(n_tokens AS BIGINT) AS kept_tokens,
       sz AS n_members,
       sz - 1 AS n_dropped
FROM r WHERE rk = 1
ORDER BY cluster_id ASC
""",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup *decision*: one survivor per near-dup cluster, chosen by
    quality (longest document; doc_id tiebreak) instead of the arbitrary
    min-id canonical — pairs → clusters → keep-one, the complete pipeline
    a training corpus actually applies.

    Adds one broadcast-sized join (per-doc token counts are computed in the
    same scan pass at scale) and one window over cluster_id on top of
    the shared cluster labels; no new shuffle class.
    """
    labels = _cluster_labels(spark, sf_dir)
    tok = (
        load_table(spark, sf_dir, "documents", spread=True)
        .select("doc_id", F.size(ws_tokens()).alias("n_tokens"))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id").asc()
    )
    sz = Window.partitionBy("cluster_id")
    return (
        labels.join(tok, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(sz))
        .where(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("n_tokens").cast("bigint").alias("kept_tokens"),
            "n_members",
            (F.col("n_members") - 1).alias("n_dropped"),
        )
        .orderBy(F.col("cluster_id").asc())
    )


@query(
    "copurchase_components",
    oracle=f"""
WITH RECURSIVE
pairs AS ({TOP_ABANDONED_PAIRS_SQL}),
nodes AS (
    SELECT product_1 AS id FROM pairs
    UNION
    SELECT product_2 FROM pairs
),
edges AS (
    SELECT product_1 AS src, product_2 AS dst FROM pairs
    UNION ALL
    SELECT product_2, product_1 FROM pairs
),
{_min_label_ctes("SELECT id FROM nodes", "partkey", "group_id")}
SELECT partkey, group_id,
       COUNT(*) OVER (PARTITION BY group_id) AS group_size
FROM lab
ORDER BY partkey ASC
""",
)
def copurchase_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-affinity groups: connected components over the top-100
    co-abandonment pair graph (ref #6's output) — "which products travel
    together", the basket-analysis step after pair mining.

    Demonstrates ``connected_components`` as a domain-generic operator: the
    same logarithmic-round label propagation that clusters near-dup
    documents runs unchanged on a product graph. The pair list is top-k
    bounded, so the iterative part runs on a tiny edge set; the expensive
    stage is the pair mining itself (same plan as ``top_abandoned_pairs``).
    """
    from databricks_spark_sql_challenge1_spark.operators.abandonment import (
        top_abandoned_pairs,
    )

    pairs = top_abandoned_pairs(spark, sf_dir).select("product_1", "product_2")
    # both node legs and the CC edge list read the mined pairs
    pairs = share(pairs, "copurchase_components.pairs")
    nodes = (
        pairs.select(F.col("product_1").alias("id"))
        .union(pairs.select("product_2"))
        .distinct()
    )
    labels = connected_components(nodes, pairs)
    return (
        labels.select(
            F.col("doc_id").alias("partkey"), F.col("cluster_id").alias("group_id")
        )
        .withColumn("group_size", F.count(F.lit(1)).over(Window.partitionBy("group_id")))
        .orderBy(F.col("partkey").asc())
    )


# Fixed-iteration PageRank over the same top-100 co-abandonment graph as
# ``copurchase_components`` — product influence rather than membership.
# 5 synchronous iterations from a uniform start; damping 0.85. Double
# arithmetic drifts ~1e-14 across engines, so ranks ROUND to 5 on both.
PAGERANK_ITERS = 5
PAGERANK_DAMPING = 0.85


def pagerank(edges: DataFrame) -> DataFrame:
    """Generic fixed-iteration synchronous PageRank over a directed edge
    list (first two columns = src, dst; duplicate edges count as parallel
    edges). Node set = every id appearing at either edge end; dangling
    (out-degree-0) nodes receive but never emit — their mass leaks, the
    simple non-redistributing convention. Returns (id, r), one row per node.

    Each iteration is one equi-join of ranks onto the degree-annotated,
    shared edge list plus one groupBy on dst — the Pregel-style
    message pass in DataFrame ops. The rank chain is linear (each round's
    frame is consumed exactly once by the next), so for the FIXED small
    iteration count it runs lazily as one job with bounded plan depth —
    an unbounded/convergence-driven variant would reinstate a periodic
    checkpoint. Pinned against numpy power iteration on random graphs
    in tests/test_properties.py.
    """
    s, d = edges.columns[:2]
    e = edges.select(F.col(s).alias("src"), F.col(d).alias("dst"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # annotate each edge with its source's out-degree ONCE, outside the loop
    ew = share(e.join(deg, "src"), "pagerank.ew")
    nodes = share(
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct(),
        "pagerank.nodes",
    )
    n = nodes.count()
    if n == 0:
        # an empty edge set has no nodes: the natural result is the empty
        # (id, r) frame — same as the oracle's — not a 1/0 driver crash
        # (r15 empty-warehouse probe)
        return nodes.select("id", F.lit(0.0).alias("r"))
    ranks = nodes.select("id", F.lit(1.0 / n).alias("r"))
    base = (1.0 - PAGERANK_DAMPING) / n
    # Round-18 optimization: a per-iteration share (an eager job +
    # materialization per round) is unnecessary for a FIXED, small
    # iteration count — each `ranks` is referenced exactly once by the next
    # round, so the chain is linear (no re-evaluation blow-up) and the
    # whole loop now executes as one job over PAGERANK_ITERS tiny stages.
    # The inputs that ARE re-read every round (`ew`, `nodes`) keep their
    # materialization above; plan depth is bounded by PAGERANK_ITERS.
    for _ in range(PAGERANK_ITERS):
        contrib = (
            ew.join(ranks, ew["src"] == ranks["id"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("r") / F.col("deg")).alias("m"))
        )
        ranks = nodes.join(contrib, "id", "left").select(
            "id",
            (
                F.lit(base)
                + F.lit(PAGERANK_DAMPING) * F.coalesce(F.col("m"), F.lit(0.0))
            ).alias("r"),
        )
    return ranks


def _pagerank_rounds_sql() -> str:
    """The oracle's CTEs ``r1`` .. ``r{PAGERANK_ITERS}``, one synchronous
    round each over ``edges``/``deg``/``n`` from ``r0``, with the same
    teleport and damping doubles as ``pagerank``."""
    return ",\n".join(
        f"""r{i} AS (
    SELECT e.dst AS id,
           CAST({1.0 - PAGERANK_DAMPING!r} AS DOUBLE) / (SELECT n FROM n)
           + CAST({PAGERANK_DAMPING!r} AS DOUBLE) * SUM(p.r / d.deg) AS r
    FROM edges e JOIN r{i - 1} p ON p.id = e.src JOIN deg d ON d.src = e.src
    GROUP BY e.dst
)"""
        for i in range(1, PAGERANK_ITERS + 1)
    )


@query(
    "copurchase_pagerank",
    oracle=f"""
WITH pairs AS ({TOP_ABANDONED_PAIRS_SQL}),
edges AS (
    SELECT product_1 AS src, product_2 AS dst FROM pairs
    UNION ALL
    SELECT product_2, product_1 FROM pairs
),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
n AS (SELECT COUNT(*) AS n FROM deg),
r0 AS (SELECT src AS id, CAST(1.0 AS DOUBLE) / (SELECT n FROM n) AS r FROM deg),
{_pagerank_rounds_sql()}
SELECT r.id AS partkey,
       CAST(d.deg AS BIGINT) AS degree,
       ROUND(r.r, 5) AS pagerank
FROM r{PAGERANK_ITERS} r JOIN deg d ON d.src = r.id
ORDER BY partkey ASC
""",
)
def copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product influence in the co-abandonment graph: PAGERANK_ITERS
    synchronous PageRank iterations (damping {PAGERANK_DAMPING}, uniform start) over the
    top-100 pair graph — the iterative-algorithm companion to
    ``copurchase_components``'s label propagation.

    Scale shape: each iteration is one equi-join of ranks onto the
    (pre-degree-annotated, shared) edge list plus one groupBy
    on dst — the standard Pregel-style message pass expressed in DataFrame
    ops, chained lazily across the fixed PAGERANK_ITERS rounds (plan depth
    bounded by the constant; see ``pagerank``); on a giant graph the
    same loop runs unchanged with edges partitioned by src. The oracle
    unrolls the {PAGERANK_ITERS} iterations as chained CTEs (recursive
    CTEs cannot aggregate per round), pinning every intermediate against
    DuckDB.
    """
    from databricks_spark_sql_challenge1_spark.operators.abandonment import (
        top_abandoned_pairs,
    )

    pairs = top_abandoned_pairs(spark, sf_dir).select("product_1", "product_2")
    # the edge list feeds the degree table and every PageRank input
    pairs = share(pairs, "copurchase_pagerank.pairs")
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("product_1").alias("src"), F.col("product_2").alias("dst")
                ),
                F.struct(
                    F.col("product_2").alias("src"), F.col("product_1").alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = pagerank(edges)
    return (
        ranks.join(deg, ranks["id"] == deg["src"])
        .select(
            F.col("id").alias("partkey"),
            F.col("deg").cast("bigint").alias("degree"),
            F.round("r", 5).alias("pagerank"),
        )
        .orderBy(F.col("partkey").asc())
    )


# Association-rule mining thresholds: pairs must co-occur in >= MIN_PAIR
# abandoned orders; top-k bounded output.
LIFT_MIN_PAIR = 2
LIFT_TOP_K = 100


@query(
    "copurchase_lift",
    oracle=f"""
WITH basket AS (
    SELECT DISTINCT l.l_orderkey AS orderkey, l.l_partkey AS partkey
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'O'
),
n AS (SELECT COUNT(DISTINCT orderkey) AS n_orders FROM basket),
item AS (SELECT partkey, COUNT(*) AS item_orders FROM basket GROUP BY partkey),
pair AS (
    SELECT b1.partkey AS product_1, b2.partkey AS product_2,
           COUNT(*) AS pair_orders
    FROM basket b1 JOIN basket b2
      ON b1.orderkey = b2.orderkey AND b1.partkey < b2.partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= {LIFT_MIN_PAIR}
)
SELECT p.product_1, p.product_2, p.pair_orders,
       ROUND(CAST(p.pair_orders AS DOUBLE) / n.n_orders, 6) AS support,
       ROUND(CAST(p.pair_orders AS DOUBLE) / i1.item_orders, 6) AS conf_1_to_2,
       ROUND(CAST(p.pair_orders AS DOUBLE) / i2.item_orders, 6) AS conf_2_to_1,
       ROUND(CAST(p.pair_orders AS DOUBLE) * n.n_orders
             / (i1.item_orders * i2.item_orders), 6) AS lift
FROM pair p
JOIN item i1 ON i1.partkey = p.product_1
JOIN item i2 ON i2.partkey = p.product_2
CROSS JOIN n
ORDER BY lift DESC, product_1 ASC, product_2 ASC
LIMIT {LIFT_TOP_K}
""",
)
def copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over abandoned-cart baskets: support, directional
    confidence, and lift for every product pair co-occurring in >=
    LIFT_MIN_PAIR open orders — the market-basket step beyond raw pair
    counts (ref #6 stops at counts; lift normalizes away item popularity).

    Scale shape: the basket self-join is the standard pair expansion,
    quadratic per order in basket size (bounded by order line limits; a
    per-order top-m cap is the documented guard for pathological baskets).
    Item counts join back on partkey equi-keys (map-side broadcast when the
    part dimension fits); the scalar order count is a 1-row broadcast
    cross join. Doubles ROUND to 6 on both engines; top-k is
    TakeOrderedAndProject with a full tiebreak.
    """
    orders = load_table(spark, sf_dir, "orders", spread=True)
    lineitem = load_table(spark, sf_dir, "lineitem", spread=True)
    basket = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .where(F.col("o_orderstatus") == "O")
        .select(
            F.col("l_orderkey").alias("orderkey"), F.col("l_partkey").alias("partkey")
        )
        .distinct()
    )
    n = basket.agg(F.countDistinct("orderkey").alias("n_orders"))
    item = basket.groupBy("partkey").agg(F.count(F.lit(1)).alias("item_orders"))
    b1 = basket.alias("b1")
    b2 = basket.alias("b2")
    pair = (
        b1.join(
            b2,
            (F.col("b1.orderkey") == F.col("b2.orderkey"))
            & (F.col("b1.partkey") < F.col("b2.partkey")),
        )
        .groupBy(
            F.col("b1.partkey").alias("product_1"),
            F.col("b2.partkey").alias("product_2"),
        )
        .agg(F.count(F.lit(1)).alias("pair_orders"))
        .where(F.col("pair_orders") >= LIFT_MIN_PAIR)
    )
    i1 = item.select(
        F.col("partkey").alias("pk1"), F.col("item_orders").alias("item_orders_1")
    )
    i2 = item.select(
        F.col("partkey").alias("pk2"), F.col("item_orders").alias("item_orders_2")
    )
    po = F.col("pair_orders").cast("double")
    return (
        pair.join(i1, F.col("product_1") == F.col("pk1"))
        .join(i2, F.col("product_2") == F.col("pk2"))
        .crossJoin(F.broadcast(n))
        .select(
            "product_1",
            "product_2",
            "pair_orders",
            F.round(po / F.col("n_orders"), 6).alias("support"),
            F.round(po / F.col("item_orders_1"), 6).alias("conf_1_to_2"),
            F.round(po / F.col("item_orders_2"), 6).alias("conf_2_to_1"),
            F.round(
                po * F.col("n_orders")
                / (F.col("item_orders_1") * F.col("item_orders_2")),
                6,
            ).alias("lift"),
        )
        .orderBy(
            F.col("lift").desc(), F.col("product_1").asc(), F.col("product_2").asc()
        )
        .limit(LIFT_TOP_K)
    )


@query(
    "copurchase_triangles",
    oracle=f"""
WITH pairs AS ({TOP_ABANDONED_PAIRS_SQL}),
tri AS (
    SELECT e1.product_1 AS u, e1.product_2 AS v, e2.product_2 AS w
    FROM pairs e1
    JOIN pairs e2 ON e2.product_1 = e1.product_2
    JOIN pairs e3 ON e3.product_1 = e1.product_1
                 AND e3.product_2 = e2.product_2
),
tn AS (SELECT unnest([u, v, w]) AS partkey FROM tri),
tc AS (SELECT partkey, COUNT(*) AS n_triangles FROM tn GROUP BY partkey),
deg AS (
    SELECT partkey, COUNT(*) AS degree FROM (
        SELECT product_1 AS partkey FROM pairs
        UNION ALL
        SELECT product_2 FROM pairs
    ) GROUP BY partkey
)
SELECT d.partkey,
       CAST(d.degree AS BIGINT) AS degree,
       CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       ROUND(CASE WHEN d.degree < 2 THEN 0.0
                  ELSE 2.0 * COALESCE(t.n_triangles, 0)
                       / (d.degree * (d.degree - 1)) END, 4)
           AS clustering_coeff
FROM deg d LEFT JOIN tc t USING (partkey)
ORDER BY d.partkey ASC
""",
)
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + local clustering coefficient over the top-100
    co-abandonment graph — the third classic distributed graph kernel on
    this edge set (after components and PageRank): "do products that
    travel with X also travel with each other".

    Plan: edges are already canonically oriented (product_1 < product_2
    from the pair miner's least/greatest), so each triangle u < v < w is
    enumerated EXACTLY ONCE by two equi-joins — e(u,v) ⋈ e(v,w) ⋈ e(u,w)
    — the MapReduce triangle-count shape. Orientation is what bounds the
    join fan-out: each edge joins only its higher endpoints' out-edges,
    so a degree-d hub contributes O(out-deg²) not O(d²); at web scale the
    orientation key is degree (Cohen's trick) rather than id — same plan,
    different ordering column. Per-node counts explode each triangle to
    its 3 corners (one small shuffle), coefficient = 2T / d(d-1).
    """
    from databricks_spark_sql_challenge1_spark.operators.abandonment import (
        top_abandoned_pairs,
    )

    # three triangle-join branches and both degree legs read the pairs
    pairs = share(
        top_abandoned_pairs(spark, sf_dir).select("product_1", "product_2"),
        "copurchase_triangles.pairs",
    )
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.product_1") == F.col("e1.product_2"))
        .join(
            e3,
            (F.col("e3.product_1") == F.col("e1.product_1"))
            & (F.col("e3.product_2") == F.col("e2.product_2")),
        )
        .select(
            F.col("e1.product_1").alias("u"),
            F.col("e1.product_2").alias("v"),
            F.col("e2.product_2").alias("w"),
        )
    )
    corners = tri.select(
        F.explode(F.array("u", "v", "w")).alias("partkey")
    )
    tc = corners.groupBy("partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
    deg = (
        pairs.select(F.col("product_1").alias("partkey"))
        .union(pairs.select("product_2"))
        .groupBy("partkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    coeff = F.when(F.col("degree") < 2, F.lit(0.0)).otherwise(
        2.0 * F.coalesce(F.col("n_triangles"), F.lit(0))
        / (F.col("degree") * (F.col("degree") - 1))
    )
    return (
        deg.join(tc, "partkey", "left")
        .select(
            "partkey",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
            F.round(coeff, 4).alias("clustering_coeff"),
        )
        .orderBy(F.col("partkey").asc())
    )


# --- embedding-side keep-one dedup ----------------------------------------


def _emb_clusters_oracle_sql() -> str:
    from databricks_spark_sql_challenge1_spark.operators.dedup import (
        _emb_lsh_ctes,
    )

    return f"""
WITH RECURSIVE {_emb_lsh_ctes()},
edges AS (
    SELECT vec_1 AS src, vec_2 AS dst FROM lshp
    UNION ALL
    SELECT vec_2, vec_1 FROM lshp
),
{_min_label_ctes("SELECT vec_id FROM embeddings", "vec_id", "cluster_id")}
SELECT vec_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       vec_id = cluster_id AS is_kept
FROM lab
ORDER BY vec_id ASC
"""


@query("dedup_embedding_clusters", oracle=_emb_clusters_oracle_sql())
def dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-side keep-one dedup, end to end: adaptive-band LSH pair
    generation (``dedup_embedding_lsh_adaptive`` — the scale config) →
    connected components over the near-dup graph → canonical survivor per
    cluster (min vec_id) — the SemDeDup-style decision layer composed from
    the two registered scale primitives, i.e. "dedup my embedding corpus"
    as one declarative answer rather than a pair list the user still has
    to resolve.

    Scale shape: the pair stage is the measured-flat adaptive LSH plan;
    components run log-round label propagation on the (sparse) pair set;
    the survivor rule is one window over cluster_id. The oracle chains the
    SAME generated LSH CTEs (shared via ``_emb_lsh_ctes`` — one
    source of truth) into the shared min-label recursion
    (``_min_label_ctes``).
    """
    from databricks_spark_sql_challenge1_spark.operators.dedup import (
        dedup_embedding_lsh_adaptive,
    )

    # read once, by connected_components' shared edge list
    pairs = dedup_embedding_lsh_adaptive(spark, sf_dir).select("vec_1", "vec_2")
    nodes = load_table(spark, sf_dir, "embeddings", spread=True).select("vec_id")
    labels = connected_components(nodes, pairs)
    return (
        labels.select(
            F.col("doc_id").alias("vec_id"), F.col("cluster_id")
        )
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
        )
        .withColumn("is_kept", F.col("vec_id") == F.col("cluster_id"))
        .orderBy(F.col("vec_id").asc())
    )
