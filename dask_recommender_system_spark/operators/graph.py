"""Graph operators over the item co-purchase graph (SURVEY.md §2.9, X69
onward): centrality (PageRank, personalized PageRank), structure
(triangles, degree assortativity), distance (BFS, Bellman-Ford) and
communities (label propagation). Every query reads its edges from
:func:`copurchase_edges`; the iterative ones loop through
``models.common.iterate``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..data import load_table
from ..models.common import (
    broadcast_if_fits,
    checkpoint,
    iterate,
    release_checkpoint,
    tracked_checkpoint,
)
from ..registry import query


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed co-purchase edges ``(u, v, c)``: every ordered pair of
    distinct items that share an order, with ``c`` the number of orders
    holding both; (u, v) and (v, u) are both present. Per-order item sets
    are bounded by order size, so pairs come from an in-row double explode
    of each order's item set, never a self-join of the fact table;
    ``collect_set`` drops a repeated (order, part) line, so ``c`` counts
    orders, not lines."""
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
    )
    return (
        baskets.select(F.explode("ps").alias("u"), "ps")
        .select("u", F.explode("ps").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("c"))
    )


PR_ITERS = 5
PR_DAMP = 0.85


def _pagerank_oracle() -> str:
    """Fixed-iteration PageRank as chained CTEs — one CTE per iteration
    (standard SQL forbids aggregation in a recursive term, so a fixed
    unroll is the portable form of the loop the Spark side runs)."""
    parts = [
        f"""
WITH lines AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
edges AS MATERIALIZED (SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS DOUBLE) AS w
          FROM lines a JOIN lines b ON a.o = b.o AND a.p <> b.p
          GROUP BY a.p, b.p),
deg AS MATERIALIZED (SELECT u, SUM(w) AS dw FROM edges GROUP BY u),
en AS MATERIALIZED (SELECT e.u, e.v, e.w / d.dw AS wn FROM edges e JOIN deg d ON e.u = d.u),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
pr0 AS (SELECT u AS node, 1.0 / nn.n AS r FROM deg, nn)"""
    ]
    for it in range(PR_ITERS):
        parts.append(
            f""",
pr{it + 1} AS (
  SELECT en.v AS node,
         (1 - {PR_DAMP}) / nn.n + {PR_DAMP} * SUM(pr{it}.r * en.wn) AS r
  FROM en JOIN pr{it} ON en.u = pr{it}.node CROSS JOIN nn
  GROUP BY en.v, nn.n
)"""
        )
    parts.append(
        f"""
SELECT pr{PR_ITERS}.node, ROUND(pr{PR_ITERS}.r * nn.n, 6) AS rank_rel
FROM pr{PR_ITERS} CROSS JOIN nn"""
    )
    return "".join(parts)


@query("pagerank_items", oracle=_pagerank_oracle())
def pagerank_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X69: weighted PageRank over the item co-purchase graph
    ({PR_ITERS} iterations, damping {PR_DAMP}) — emitted as rank relative
    to uniform (r·n, so values sit near 1.0 with full 6-decimal
    resolution instead of collapsing toward 1/n as the catalog grows).

    The co-purchase graph is symmetric, so there are no dangling nodes
    and the node set is closed under iteration — the (1-d)/n teleport
    needs no dangling-mass correction. Each round (``iterate``) is ONE
    u-keyed join (ranks ⋈ normalized edges) + ONE v-keyed agg. The
    driver-side scalars are n (one count) and the loop bound; ranks
    never leave the cluster."""
    edges = copurchase_edges(spark, sf_dir).select(
        "u", "v", F.col("c").cast("double").alias("w")
    )
    deg = edges.groupBy("u").agg(F.sum("w").alias("dw"))
    p = spark.sparkContext.defaultParallelism
    en = checkpoint(
        edges.join(deg, "u")
        .select("u", "v", (F.col("w") / F.col("dw")).alias("wn"))
        # hash-partition on the iteration join key BEFORE the checkpoint:
        # localCheckpoint preserves outputPartitioning, so every iteration
        # joins against co-located edges and only the |nodes|-row ranks
        # table moves. At bench scale AQE broadcasts ranks and this is
        # timing-neutral (measured); at 10⁹ nodes ranks cannot broadcast
        # and this is the difference between shuffling the edge table
        # once vs once per iteration.
        .repartition(p, "u")
    )
    # nodes come from the pinned, u-partitioned edges (no exchange), not
    # from deg, which would re-run the whole edge build
    nodes = en.select("u").distinct()
    n = float(nodes.count())
    ranks = nodes.select(F.col("u").alias("node"), F.lit(1.0 / n).alias("r"))
    # the rank vector is |nodes| × 2 numeric cols — the driver KNOWS n, so
    # hint the broadcast while it fits (guide §3.1; measured 1.0–2.5 s →
    # 0.73–0.82 s per round at sf0.1: without the hint each round planned
    # SMJ and AQE only rescued it after materializing the rank exchange);
    # past the threshold the join stays keyed against the u-partitioned
    # edge checkpoint
    rank_bytes = int(n) * 3 * 8

    def step(ranks: DataFrame, _: int) -> DataFrame:
        br = broadcast_if_fits(ranks, rank_bytes)
        return (
            en.join(br, en["u"] == br["node"])
            .groupBy(F.col("v").alias("node2"))
            .agg(
                (
                    F.lit((1 - PR_DAMP) / n)
                    + PR_DAMP * F.sum(F.col("r") * F.col("wn"))
                ).alias("r")
            )
            .select(F.col("node2").alias("node"), "r")
        )

    ranks, _ = iterate(ranks, step, PR_ITERS)
    # the returned plan reads only the final ranks checkpoint
    release_checkpoint(en)
    return ranks.select("node", F.round(F.col("r") * n, 6).alias("rank_rel"))


# --- triangle count / transitivity (X113) ---------------------------------


@query(
    "graph_triangle_stats",
    oracle="""
    WITH lines AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (SELECT DISTINCT a.p AS u, b.p AS v
          FROM lines a JOIN lines b ON a.o = b.o AND a.p < b.p),
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
                SELECT u AS node FROM e UNION ALL SELECT v FROM e)
            GROUP BY node),
    o AS (SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
                 CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst,
                 CASE WHEN (du.d, e.u) < (dv.d, e.v)
                      THEN dv.d * 10000000 + e.v
                      ELSE du.d * 10000000 + e.u END AS kdst
          FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node),
    tri AS (SELECT COUNT(*) AS t
            FROM o e1
            JOIN o e2 ON e1.src = e2.src AND e1.kdst < e2.kdst
            JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
    agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                   CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS wedges
            FROM deg),
    ecnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
    SELECT agg.n_nodes, ecnt.n_edges,
           CAST(tri.t AS BIGINT) AS n_triangles,
           ROUND(3.0 * tri.t / NULLIF(agg.wedges, 0), 6) AS transitivity
    FROM agg, ecnt, tri
    """,
)
def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X113: triangle count + global transitivity of the item co-purchase
    graph — the clustering-structure statistic next to pagerank_items'
    centrality. Compact-forward algorithm (Latapy 2008; also the
    GraphFrames/Cohen MapReduce formulation): orient every edge from
    lower to higher (degree, id) — out-degree is then O(sqrt(m)) for ANY
    degree distribution — enumerate wedges at the lower-ranked apex
    (join oriented edges on src with an order guard on the two
    endpoints), and close each wedge against the oriented edge set.
    Every triangle is counted exactly once from its minimum-rank apex.
    Three item-keyed equi-joins; the degree orientation is what keeps
    the wedge explosion bounded when a power-law hub shows up at 100 TB
    — wedges sit at low-degree apexes, never at the hub."""
    e = copurchase_edges(spark, sf_dir).filter(F.col("u") < F.col("v"))
    return triangle_stats_from_edges(e.select("u", "v"))


def triangle_stats_from_edges(e: DataFrame) -> DataFrame:
    """Compact-forward triangle statistics over an undirected edge set
    given as (u, v) rows with u < v, deduplicated. Split out of
    graph_triangle_stats so planted-graph tests can drive the counting
    core directly."""
    # e is the junction of a diamond — it feeds deg (via BOTH unionAll
    # branches), the orientation join and the final edge count; without a
    # checkpoint the scan→collect_set→explode→distinct edge build replays
    # 4x in the plan (r08 audit — the item_cf_similarity union lesson).
    # The edge set is (u, v) BIGINT pairs, far smaller than the fact
    # table; one materialization job replaces three replays. Tracked for
    # registry-side release once the caller's action completes (ADVICE r08).
    e = tracked_checkpoint(e)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ed = e.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(
            u_first, F.col("dv") * 10000000 + F.col("v")
        ).otherwise(F.col("du") * 10000000 + F.col("u")).alias("kdst"),
    )
    # same diamond: o feeds the two wedge legs AND the closing join —
    # checkpoint once instead of re-running the degree joins 3x; tracked
    # for registry-side release (ADVICE r08)
    o = tracked_checkpoint(o)
    e1 = o.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.col("kdst").alias("kb")
    )
    e2 = o.select(
        F.col("src").alias("a"), F.col("dst").alias("c"), F.col("kdst").alias("kc")
    )
    wedges = e1.join(e2, "a").filter(F.col("kb") < F.col("kc"))
    closer = o.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = wedges.join(closer, ["b", "c"]).agg(F.count("*").alias("t"))
    agg = deg.agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("wedges"),
    )
    ecnt = e.agg(F.count("*").alias("n_edges"))
    return (
        agg.crossJoin(F.broadcast(ecnt))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            F.col("t").cast("long").alias("n_triangles"),
            F.round(
                3.0 * F.col("t") / F.nullif(F.col("wedges"), F.lit(0)), 6
            ).alias("transitivity"),
        )
    )


BFS_MAX_DEPTH = 4


@query(
    "graph_bfs_levels",
    oracle=f"""
    WITH RECURSIVE lines AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    edges AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM lines a JOIN lines b ON a.o = b.o AND a.p <> b.p),
    seed AS (SELECT MIN(p) AS s FROM lines),
    reach(node, lvl) AS (
        SELECT s, 0 FROM seed
        UNION
        SELECT e.v, r.lvl + 1
        FROM edges e JOIN reach r ON e.u = r.node
        WHERE r.lvl < {BFS_MAX_DEPTH})
    SELECT node, CAST(MIN(lvl) AS BIGINT) AS level
    FROM reach GROUP BY node
    """,
)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first search levels (shortest hop distance, depth <=
    {BFS_MAX_DEPTH}) from the min-id seed item over the co-purchase
    graph — the reachability/blast-radius primitive next to
    `pagerank_items` (fixed-point scoring) and `min_label_components`
    (full closure). Frontier iteration in its scalable form: round d
    (``iterate``) is ONE u-keyed join of the level d-1 frontier (not all
    visited nodes) against the pre-partitioned checkpointed edge table
    and a LEFT ANTI against the visited set, so a node's level is its
    FIRST visit (= min distance); the loop settles when a round adds no
    node. The oracle's recursive CTE must UNION (not UNION ALL):
    path-counting through a dense co-purchase graph is combinatorial;
    distinct (node, lvl) states are |V| x depth."""
    p = spark.sparkContext.defaultParallelism
    edges = checkpoint(
        copurchase_edges(spark, sf_dir).select("u", "v").repartition(p, "u")
    )
    seed = (
        load_table(spark, sf_dir, "lineitem")
        .agg(F.min("l_partkey").alias("node"))
        .select("node", F.lit(0).cast("long").alias("level"))
    )

    def step(levels: DataFrame, d: int) -> DataFrame:
        frontier = levels.filter(F.col("level") == d - 1).select("node")
        nxt = (
            edges.join(frontier, edges["u"] == frontier["node"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(levels.select("node"), "node", "left_anti")
            .select("node", F.lit(d).cast("long").alias("level"))
        )
        return levels.unionByName(nxt)

    def deepest(levels: DataFrame) -> int:
        # stops rising exactly when a round adds no node; one ordered take
        # reads it in one job (a count or max aggregate costs two under AQE)
        return levels.orderBy(F.col("level").desc()).first()["level"]

    levels, _ = iterate(seed, step, BFS_MAX_DEPTH, settle=deepest)
    release_checkpoint(edges)
    return levels


# --- personalized PageRank (X242) -----------------------------------------

PPR_ITERS = 4
PPR_DAMP = 0.85
PPR_SEED_NATION = "NATION_0"


def _ppr_oracle() -> str:
    """Fixed-iteration personalized PageRank as chained CTEs (the
    _pagerank_oracle unroll with a teleport-to-seed-set term). Zero-mass
    nodes are carried explicitly so both engines iterate the identical
    |nodes|-row vector."""
    head = f"""
WITH lines AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
edges AS MATERIALIZED (SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS DOUBLE) AS w
          FROM lines a JOIN lines b ON a.o = b.o AND a.p <> b.p
          GROUP BY a.p, b.p),
deg AS MATERIALIZED (SELECT u, SUM(w) AS dw FROM edges GROUP BY u),
en AS MATERIALIZED (SELECT e.u, e.v, e.w / d.dw AS wn FROM edges e JOIN deg d ON e.u = d.u),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
nodes AS MATERIALIZED (SELECT u AS node FROM deg),
seeds AS (SELECT DISTINCT l.l_partkey AS node
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation na ON c.c_nationkey = na.n_nationkey
          WHERE na.n_name = '{PPR_SEED_NATION}'),
sn AS MATERIALIZED (SELECT s.node FROM seeds s JOIN nodes nd ON s.node = nd.node),
ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM sn),
pr0 AS (SELECT nd.node,
               CASE WHEN s.node IS NOT NULL
                    THEN CAST(1 AS DOUBLE) / ns.c ELSE 0 END AS r
        FROM nodes nd LEFT JOIN sn s ON nd.node = s.node CROSS JOIN ns)"""
    parts = [head]
    for it in range(PPR_ITERS):
        parts.append(
            f""",
pr{it + 1} AS (
  SELECT nd.node,
         (CASE WHEN s.node IS NOT NULL
               THEN {1 - PPR_DAMP} / ns.c ELSE 0 END)
         + {PPR_DAMP} * COALESCE(m.mass, 0) AS r
  FROM nodes nd
  LEFT JOIN (SELECT en.v AS node, SUM(pr{it}.r * en.wn) AS mass
             FROM en JOIN pr{it} ON en.u = pr{it}.node
             GROUP BY en.v) m ON nd.node = m.node
  LEFT JOIN sn s ON nd.node = s.node
  CROSS JOIN ns)"""
        )
    parts.append(
        f"""
SELECT pr{PPR_ITERS}.node, ROUND(pr{PPR_ITERS}.r * nn.n, 6) AS ppr_rel
FROM pr{PPR_ITERS} CROSS JOIN nn"""
    )
    return "".join(parts)


@query("personalized_pagerank", oracle=_ppr_oracle())
def personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X242: personalized PageRank over the item co-purchase graph —
    random walk with restart INTO a seed set (here: items bought by
    {PPR_SEED_NATION}'s customers), the graph-native "more like these"
    recommender next to pagerank_items' global centrality (Haveliwala
    2002; Pixie at Pinterest is this at production scale). Teleport mass
    goes to the seed set instead of uniform, so rank concentrates in the
    seed's neighborhood; emitted as r·n relative to uniform.

    Edges are normalized, partitioned and pinned as in pagerank_items;
    each of the {PPR_ITERS} rounds (``iterate``) is ONE u-keyed join + ONE
    v-keyed agg + a nodes-keyed reassembly (the teleport term needs every
    node present, so the |nodes|-row vector — zeros included — is the
    iterated state on both engines; dropping zero-mass nodes would make
    the two engines sum different term sets). Driver-side scalars: n,
    |seeds| (two counts). At 10⁹ items the rank vector stays keyed (never
    broadcast) and the per-round cost is one co-located edge join,
    identical to the global variant."""
    edges = copurchase_edges(spark, sf_dir).select(
        "u", "v", F.col("c").cast("double").alias("w")
    )
    deg = edges.groupBy("u").agg(F.sum("w").alias("dw"))
    p = spark.sparkContext.defaultParallelism
    en = checkpoint(
        edges.join(deg, "u")
        .select("u", "v", (F.col("w") / F.col("dw")).alias("wn"))
        .repartition(p, "u")
    )
    nodes = checkpoint(en.select(F.col("u").alias("node")).distinct())
    n = float(nodes.count())
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").filter(
                    F.col("n_name") == PPR_SEED_NATION
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    seed_items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", F.col("l_partkey").alias("node"))
        .join(
            load_table(spark, sf_dir, "orders").join(
                F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
            ).select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("node")
        .distinct()
    )
    sn = checkpoint(seed_items.join(nodes, "node"))
    ns = float(sn.count())
    seed_flag = sn.withColumn("is_seed", F.lit(True))
    r = nodes.join(seed_flag, "node", "left").select(
        "node",
        F.when(F.col("is_seed"), F.lit(1.0 / ns)).otherwise(0.0).alias("r"),
    )
    rank_bytes = int(n) * 3 * 8

    def step(r: DataFrame, _: int) -> DataFrame:
        br = broadcast_if_fits(r, rank_bytes)
        mass = (
            en.join(br, en["u"] == br["node"])
            .groupBy(F.col("v").alias("mnode"))
            .agg(F.sum(F.col("r") * F.col("wn")).alias("mass"))
        )
        return (
            nodes.join(mass, nodes["node"] == mass["mnode"], "left")
            .join(seed_flag.select("node", "is_seed"), "node", "left")
            .select(
                "node",
                (
                    F.when(F.col("is_seed"), F.lit((1 - PPR_DAMP) / ns)).otherwise(0.0)
                    + F.lit(PPR_DAMP) * F.coalesce(F.col("mass"), F.lit(0.0))
                ).alias("r"),
            )
        )

    r, _ = iterate(r, step, PPR_ITERS)
    # only the final r checkpoint feeds the returned plan
    release_checkpoint(en)
    release_checkpoint(nodes)
    release_checkpoint(sn)
    return r.select("node", F.round(F.col("r") * n, 6).alias("ppr_rel"))


LPA_ROUNDS = 4  # fixed synchronous rounds (unrolled in the oracle)


def _lpa_oracle() -> str:
    """Deterministic synchronous label propagation as unrolled CTEs
    (the pagerank_items fixed-unroll idiom): each round every node
    adopts the neighbor label with the largest co-occurrence weight,
    ties to the SMALLEST label; isolated nodes keep their label."""
    parts = [
        """
WITH lines AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
edges AS MATERIALIZED (SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS w
          FROM lines a JOIN lines b ON a.o = b.o AND a.p <> b.p
          GROUP BY 1, 2),
lab0 AS MATERIALIZED (SELECT DISTINCT p AS node, p AS lab FROM lines)"""
    ]
    for r in range(1, LPA_ROUNDS + 1):
        parts.append(
            f""",
votes{r} AS (
  SELECT e.v AS node, l.lab, CAST(SUM(e.w) AS BIGINT) AS wv
  FROM edges e JOIN lab{r - 1} l ON e.u = l.node GROUP BY 1, 2),
win{r} AS (
  SELECT node, lab FROM (
    SELECT node, lab,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY wv DESC, lab) AS rn
    FROM votes{r}) t WHERE rn = 1),
lab{r} AS MATERIALIZED (
  SELECT p.node, COALESCE(w.lab, p.lab) AS lab
  FROM lab{r - 1} p LEFT JOIN win{r} w ON p.node = w.node)"""
        )
    parts.append(
        f"""
SELECT l.node, CAST(l.lab AS BIGINT) AS community,
       CAST(s.sz AS BIGINT) AS community_size
FROM lab{LPA_ROUNDS} l
JOIN (SELECT lab, COUNT(*) AS sz FROM lab{LPA_ROUNDS} GROUP BY 1) s
  ON l.lab = s.lab
ORDER BY l.node"""
    )
    return "".join(parts)


@query("label_propagation_communities", oracle=_lpa_oracle())
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X270: community detection by label propagation (Raghavan et al.
    2007) over the item co-purchase graph — the near-linear-time
    community algorithm behind candidate pools and catalog taxonomy
    mining; finds DENSE groups, where dedup_clusters' connected
    components only find reachable ones. Determinism (the classic LPA
    weakness) is engineered away: synchronous rounds (no visit order),
    votes weighted by exact integer co-occurrence counts, ties to the
    smallest label — so both engines propagate identical labels and a
    fixed {LPA_ROUNDS}-round unroll is value-checkable. Plan: per round
    (``iterate``) ONE u-keyed join + ONE v-keyed vote agg + node-keyed
    argmax window — at 10⁹ nodes every stage stays hash-partitioned on
    node id."""
    p = spark.sparkContext.defaultParallelism
    edges = checkpoint(
        copurchase_edges(spark, sf_dir)
        .select("u", "v", F.col("c").alias("w"))
        # partition on the per-round JOIN key (u), not v: localCheckpoint
        # preserves the partitioning, so every round's labels join is
        # co-located and only the |nodes|-row labels table moves; the
        # vote agg shuffles on (v, lab) either way
        .repartition(p, "u")
    )
    labels = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lab"))
    )
    # labels is |nodes| × 2 BIGINTs; the node count is cheap to learn once
    # and lets every round's join be broadcast-hinted while it fits
    # (guide §3.1 — see pagerank_items)
    label_bytes = labels.count() * 3 * 8

    def step(labels: DataFrame, _: int) -> DataFrame:
        bl = broadcast_if_fits(labels, label_bytes)
        votes = (
            edges.join(bl, edges["u"] == bl["node"])
            .groupBy(F.col("v").alias("vnode"), "lab")
            .agg(F.sum("w").alias("wv"))
        )
        win = (
            votes.withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy("vnode").orderBy(F.col("wv").desc(), "lab")
                ),
            )
            .filter(F.col("rn") == 1)
            .select("vnode", F.col("lab").alias("new_lab"))
        )
        return labels.join(win, labels["node"] == win["vnode"], "left").select(
            "node", F.coalesce("new_lab", "lab").alias("lab")
        )

    labels, _ = iterate(labels, step, LPA_ROUNDS)
    sizes = labels.groupBy("lab").agg(F.count("*").alias("community_size"))
    release_checkpoint(edges)
    return (
        labels.join(F.broadcast(sizes), "lab")
        .select(
            "node",
            F.col("lab").alias("community"),
            "community_size",
        )
        .orderBy("node")
    )


BF_ROUNDS = 4  # Bellman-Ford relaxation rounds (unrolled in the oracle)


def _bf_oracle() -> str:
    """k-round min-plus relaxation as unrolled CTEs, integer weights
    w = 1 + 1000 // co_count (strong ties = short edges)."""
    parts = [
        """
WITH lines AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
edges AS MATERIALIZED (SELECT a.p AS u, b.p AS v,
                 CAST(1 + 1000 // COUNT(*) AS BIGINT) AS w
          FROM lines a JOIN lines b ON a.o = b.o AND a.p <> b.p
          GROUP BY 1, 2),
seed AS (SELECT MIN(p) AS s FROM lines),
d0 AS (SELECT s AS node, CAST(0 AS BIGINT) AS dist FROM seed)"""
    ]
    for r in range(1, BF_ROUNDS + 1):
        parts.append(
            f""",
cand{r} AS (
  SELECT e.v AS node, MIN(d.dist + e.w) AS dist
  FROM edges e JOIN d{r - 1} d ON e.u = d.node GROUP BY 1),
d{r} AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d{r - 1}
    UNION ALL SELECT node, dist FROM cand{r}) t
  GROUP BY node)"""
        )
    parts.append(
        f"""
SELECT node, CAST(dist AS BIGINT) AS dist
FROM d{BF_ROUNDS} ORDER BY node"""
    )
    return "".join(parts)


@query("graph_shortest_paths_weighted", oracle=_bf_oracle())
def graph_shortest_paths_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X283: weighted single-source shortest paths by {BF_ROUNDS}-round
    Bellman-Ford (distributed min-plus relaxation — the form SSSP takes
    on Pregel/GraphX, where Dijkstra's priority queue cannot shard)
    over the item co-purchase graph, edge length 1 + 1000 DIV co_count
    (strong ties = short edges) from the minimum item id. Completes the
    graph family's distance axis: bfs_levels is the unit-weight special
    case. All-arithmetic-integer (no float min ties), so the frontier
    is bit-deterministic; k rounds bound the hop radius exactly like
    the oracle's unrolled CTEs. Plan per round (``iterate``): ONE
    u-keyed edges⋈frontier join + ONE v-keyed MIN agg + a union-min
    against the standing distances — every stage hash-partitioned on
    node id, 10⁹-node-safe."""
    edges = checkpoint(
        copurchase_edges(spark, sf_dir)
        .select("u", "v", F.expr("CAST(1 + 1000 DIV c AS BIGINT)").alias("w"))
        .repartition("u")
    )
    seed = (
        load_table(spark, sf_dir, "lineitem")
        .agg(F.min("l_partkey").alias("node"))
        .select("node", F.lit(0).cast("long").alias("dist"))
    )

    def step(dist: DataFrame, _: int) -> DataFrame:
        cand = (
            edges.join(dist, edges["u"] == dist["node"])
            .groupBy(F.col("v").alias("cnode"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("cdist"))
            .select(F.col("cnode").alias("node"), F.col("cdist").alias("dist"))
        )
        return dist.unionByName(cand).groupBy("node").agg(F.min("dist").alias("dist"))

    dist, _ = iterate(seed, step, BF_ROUNDS)
    release_checkpoint(edges)
    return dist.orderBy("node")


@query(
    "graph_degree_assortativity",
    oracle="""
    WITH lines AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                   FROM lineitem),
    edges AS (SELECT DISTINCT a.p AS u, b.p AS v
              FROM lines a JOIN lines b ON a.o = b.o AND a.p <> b.p),
    deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM edges GROUP BY 1),
    pairs AS (
        SELECT du.d AS x, dv.d AS y
        FROM edges e
        JOIN deg du ON e.u = du.node
        JOIN deg dv ON e.v = dv.node),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(CAST(x AS BIGINT) * x) AS BIGINT) AS sxx,
               CAST(SUM(CAST(x AS BIGINT) * y) AS BIGINT) AS sxy
        FROM pairs)
    SELECT m AS n_directed_edges, sx AS sum_deg, sxx AS sum_deg_sq,
           sxy AS sum_deg_prod,
           ROUND((m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                 / (m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx),
                 6) AS assortativity
    FROM s
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X302: degree assortativity of the co-purchase graph (Newman
    2002) — the one-number network-science summary completing the
    graph family's structural axis (triangles: local clustering, BFS /
    SSSP: distances, PageRank / communities: importance; THIS: do
    hubs link to hubs?). Over every directed edge, x = deg(u),
    y = deg(v); assortativity is Pearson's r of (x, y), which by
    edge-list symmetry (both orientations present) collapses to
    (m·Σxy − (Σx)²) / (m·Σx² − (Σx)²) — every sufficient statistic an
    EXACT BIGINT from keyed aggregates, the final r one fixed double
    expression (emitted beside its four raw integers so the oracle
    checks the division AND its inputs). On this fixture's near-random
    co-occurrence the coefficient is honestly near ZERO (|r| < 0.05,
    test-pinned along with r ∈ [−1, 1] and the recomputation of r
    from the emitted integers) — the neutral baseline real
    co-purchase graphs deviate from. Plan: the co-purchase edges, one
    degree rollup, two keyed joins, one scalar agg. At 100 TB degrees
    can reach 10⁶ ⇒ Σx² ≈ 10¹⁸ nears BIGINT range — the documented
    upgrade is DECIMAL(38,0) sufficient stats, same shape."""
    edges = copurchase_edges(spark, sf_dir).select("u", "v")
    deg = edges.groupBy(F.col("u").alias("node")).agg(
        F.count("*").alias("d")
    )
    du = deg.select(F.col("node").alias("nu"), F.col("d").alias("x"))
    dv = deg.select(F.col("node").alias("nv"), F.col("d").alias("y"))
    pairs = (
        edges.join(du, edges["u"] == du["nu"])
        .join(dv, edges["v"] == dv["nv"])
        .select("x", "y")
    )
    s = pairs.agg(
        F.count("*").alias("m"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x").cast("long") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("long") * F.col("y")).alias("sxy"),
    )
    return s.select(
        F.col("m").alias("n_directed_edges"),
        F.col("sx").alias("sum_deg"),
        F.col("sxx").alias("sum_deg_sq"),
        F.col("sxy").alias("sum_deg_prod"),
        F.round(
            (
                F.col("m") * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sx")
            )
            / (
                F.col("m") * F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx")
            ),
            6,
        ).alias("assortativity"),
    )
