"""Iterative graph analytics over the emitted relation edges.

PageRank done the Spark-iterative way (GraphX's Pregel loop expressed
in DataFrames):

* edges are repartitioned ONCE by src and cached — every iteration's
  rank-join shuffles only the (node, rank) side to the edges'
  partitioning, never the (much larger) edge set.
* per-iteration contributions are summed as DECIMAL(38,18), which is
  order-independent across shuffle partitions, so ranks are
  bit-deterministic run-to-run (a plain double sum is not).
* dangling mass (nodes with no out-edges) is redistributed uniformly —
  the standard correction that keeps the rank vector summing to 1.
* `localCheckpoint` truncates lineage each iteration; without it the
  plan doubles per round and the job dies of planning time long before
  it dies of data size.

The fixed iteration count (PR_ITERS=10) makes the recursion
SQL-expressible after all: `pagerank_oracle_sql()` unrolls the loop
into 10 chained CTEs whose arithmetic mirrors the Spark expressions
operation-for-operation ((1-d)/n + (d·dangling)/n + d·recv, same
association).  Spark's DECIMAL(38,18) partial sums and DuckDB's double
sums differ only at the last ulp, far below the driver's 1e-9 value
canonicalization, so the entry is fully hash-checked; pytest
additionally validates against a dense NumPy power iteration and the
mass-conservation invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_addresses_spark.ckpt import CheckpointChain
from etl_addresses_spark.functions.sizing import cpu_partitions, loop_partitions
from etl_addresses_spark.session import scoped_shuffle_partitions

DAMPING = 0.85
PR_ITERS = 10

_DEC = "decimal(38,18)"


def pagerank(edges: DataFrame, iters: int = PR_ITERS, damping: float = DAMPING) -> DataFrame:
    """PageRank over (from_id, to_id) edges; returns (node, rank)."""
    # NO explicit width here (r11 lesson): `edges` is the flagship
    # transform output, and Catalyst's join-propagated size estimate
    # for it is inflated ~30000x (72 GB for a 2 MB frame) — an
    # explicit cpu_partitions() pin from that estimate exploded the
    # cached edge table to ~1100 partitions and drove the 10x ladder
    # to 142 s (10.1x wall).  cpu_partitions is for SCAN-GRADE frames
    # only (see its docstring); derived frames keep the AQE-managed
    # repartition, which under the session default never drops below
    # cluster parallelism.
    e = (
        edges.select(
            F.col("from_id").alias("src"), F.col("to_id").alias("dst")
        )
        .distinct()
        .repartition("src")
        .cache()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    n_nodes = nodes.count()
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    # Loop-invariant prework (r9: the old per-iteration
    # ranks-left-join-out_deg was evaluated TWICE per round — once
    # under the dangling aggregate, once under contribs — because
    # Spark does not CSE across DataFrame branches).  Both the
    # edge-with-degree table and the dangling-node SET are fixed
    # across iterations: join degree onto the edges once (both sides
    # already hash-partitioned on src, no extra exchange) and
    # anti-join the dangling set once, so each round runs exactly one
    # ranks join per consumer instead of a duplicated three-way.
    e_deg = e.join(out_deg, "src").cache()
    dangling_nodes = nodes.join(
        out_deg, nodes.node == out_deg.src, "left_anti"
    ).cache()
    # materialize the two loop-lived caches off the raw-edge cache,
    # then drop it: e is never read inside the loop, and holding both
    # edge copies for 10 rounds is exactly the block-manager residue
    # pressure ckpt.py documents (review fix; two edge-scan jobs of
    # already-cached data, amortized over the iterations)
    n_edges = e_deg.count()
    dangling_nodes.count()
    e.unpersist()

    chain = CheckpointChain()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    # the loop's keyed work is O(edges) per round; run its shuffles at
    # an edge-derived width instead of the corpus-sized session
    # default (functions/sizing.py — 13.5 -> 9.3 s at sf0.1, exact
    # decimal arithmetic so width cannot move values)
    loop_scope = scoped_shuffle_partitions(
        edges.sparkSession, loop_partitions(n_edges)
    )
    with loop_scope:
        for _ in range(iters):
            # mass from dangling nodes (no out-edges) spreads uniformly.
            # It rides the SAME job as the rank update: a 1-row aggregate
            # broadcast into the select, instead of a per-iteration
            # driver-side collect() — one Spark job per iteration total
            # (the eager localCheckpoint below is the only action).
            dangling_df = (
                ranks.join(dangling_nodes, "node", "left_semi")
                .agg(
                    F.coalesce(
                        F.sum(F.col("rank").cast(_DEC)), F.lit(0).cast(_DEC)
                    )
                    .cast("double")
                    .alias("dangling")
                )
            )
            # per-edge contribution rank/out_deg: identical operands (and
            # therefore bit-identical doubles) to the former per-node
            # division — the DECIMAL sum is exact, so regrouping the sum
            # by edge instead of node cannot move the result either
            contribs = (
                ranks.join(e_deg, ranks.node == e_deg.src)
                .groupBy(F.col("dst").alias("node"))
                .agg(
                    F.sum((F.col("rank") / F.col("out_deg")).cast(_DEC))
                    .cast("double")
                    .alias("recv")
                )
            )
            # Same float association as the former driver-side arithmetic:
            # ((1-d)/n + (d*dangling)/n) + d*recv.
            # chain.step frees round k-1's rank blocks once round k is
            # materialized (see ckpt.py — clearCache never reclaims these).
            ranks = chain.step(
                nodes.join(contribs, "node", "left")
                .crossJoin(F.broadcast(dangling_df))
                .select(
                    "node",
                    (
                        (
                            F.lit((1.0 - damping) / n_nodes)
                            + (F.lit(damping) * F.col("dangling"))
                            / F.lit(float(n_nodes))
                        )
                        + F.lit(damping) * F.coalesce(F.col("recv"), F.lit(0.0))
                    ).alias("rank"),
                ),
                "ranks",
            )
    return ranks


def pagerank_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry surface: PageRank over the transform-step relation
    edges (address->street `st:in`, id->houseNumber `st:sameAs`)."""
    from etl_addresses_spark.plans.transform import transform_relations

    edges = transform_relations(spark, sf_dir)
    return pagerank(edges.select("from_id", "to_id"))


def pagerank_oracle_sql(iters: int = PR_ITERS, damping: float = DAMPING) -> str:
    """DuckDB replica of `pagerank_relations`: the fixed-count
    power-iteration loop unrolled into chained CTEs (r0..r{iters}), one
    dangling-mass + one receive CTE per step, arithmetic in the same
    association order as the Spark column expressions, sums in the
    same exact DECIMAL(38,18) so their bits do not follow thread order."""
    from etl_addresses_spark.plans.transform import INFERRED_CTES

    d = damping
    # AS MATERIALIZED everywhere: DuckDB inlines plain CTEs per
    # reference, and each r{k} is referenced three times by step k+1 —
    # un-materialized, the expansion is 3^iters evaluations of the
    # whole join pipeline (observed as an fd-exhaustion blowup).
    sql = (
        INFERRED_CTES
        + """
, rels AS MATERIALIZED (
  SELECT houseNumberId AS from_id, streetId AS to_id
  FROM inferred WHERE streetId IS NOT NULL
  UNION ALL
  SELECT id AS from_id, houseNumberId AS to_id
  FROM inferred WHERE streetId IS NOT NULL
),
e AS MATERIALIZED (SELECT DISTINCT from_id AS src, to_id AS dst FROM rels),
nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
outdeg AS MATERIALIZED (
  SELECT src, count(*) AS out_deg FROM e GROUP BY src
),
r0 AS MATERIALIZED (
  SELECT node, 1.0e0 / nn.n AS pr FROM nodes CROSS JOIN nn
)"""
    )
    for k in range(1, iters + 1):
        p = k - 1
        sql += f""",
dang{k} AS MATERIALIZED (
  SELECT coalesce(CAST(sum(CAST(r.pr AS DECIMAL(38,18))) AS DOUBLE), 0.0e0) AS dm
  FROM r{p} r LEFT JOIN outdeg o ON r.node = o.src
  WHERE o.src IS NULL
),
recv{k} AS MATERIALIZED (
  SELECT e.dst AS node,
         CAST(sum(CAST(r.pr / o.out_deg AS DECIMAL(38,18))) AS DOUBLE) AS recv
  FROM r{p} r JOIN outdeg o ON r.node = o.src JOIN e ON e.src = r.node
  GROUP BY e.dst
),
r{k} AS MATERIALIZED (
  SELECT n.node,
         ((1.0e0 - {d}e0) / nn.n + ({d}e0 * dg.dm) / nn.n)
           + {d}e0 * coalesce(rv.recv, 0.0e0) AS pr
  FROM nodes n
  CROSS JOIN nn CROSS JOIN dang{k} dg
  LEFT JOIN recv{k} rv ON rv.node = n.node
)"""
    sql += f'\nSELECT node, pr AS "rank" FROM r{iters}'
    return sql


# ---------------------------------------------------------------------------
# Triangle counting over the co-purchase graph (degree-ordered).
# ---------------------------------------------------------------------------

_ORD_BASE = 1_000_000_000

# Broadcast the node-dimension (degree, adjacency) sides of the probe
# joins while the node count stays under this; beyond it the shuffle
# join is the only plan that fits, and the gate just stops hinting.
ADJ_BROADCAST_ROWS = 2_000_000


# The co-purchase ("parts bought together") graph that triangle_count,
# graph_communities_labelprop and graph_bfs_distances run over, and its
# DuckDB replica: one undirected edge (u < v) per pair of distinct parts
# that share an order.
_EDGES_SQL = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
),
edges AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
),"""

# Both directions of every edge as (v_, w) — the neighbor list of the
# iterative rows.
_NBR_SQL = _EDGES_SQL + """
nbr AS MATERIALIZED (
  SELECT u AS v_, v AS w FROM edges
  UNION ALL
  SELECT v, u FROM edges
),"""


def _lineitem_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_addresses_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    )


def _co_purchase_edges(li: DataFrame) -> DataFrame:
    """Distinct undirected edges (u, v), u < v, from an (ok, p) lineitem
    projection.

    Per-order pair generation: ONE groupBy shuffle collects each
    order's (small, k<=7) part set, and the k*(k-1)/2 pairs are
    generated locally with higher-order functions — replacing the
    earlier lineitem self-join, which shuffled the fact table twice
    and built the same pairs through a join (measured 11.3 s -> see
    SCALE.md; pair count is identical).  At 100 TB the per-key state
    is one order's part set — bounded by order size, not corpus.
    No (ok, p) pre-distinct: collect_set dedupes per order already,
    and the r14 plan audit showed the distinct() cost a SECOND full
    exchange of the scan for zero row reduction at the groupBy
    (guide §2.4 — "a distinct on data that is already unique").
    NOTE (r11 width audit): an explicit repartition+dropDuplicates
    form was tried on the pair dedup and REVERTED — unlike the
    near-unique shingle keys in dedup._shingles, co-purchase pairs
    repeat across orders, so the map-side partial aggregation that
    distinct() plans is real work saved (10x A/B: labelprop 27.2 s
    with the explicit form vs 22.0 s with distinct(); triangle
    14.5 vs 13.8).  Under the session default AQE never coalesces
    these exchanges below cluster parallelism."""
    per_order = li.groupBy("ok").agg(F.sort_array(F.collect_set("p")).alias("ps"))
    pair_expr = F.expr(
        "explode(flatten(transform(ps, (x, i) -> "
        "transform(slice(ps, i + 2, size(ps) - i - 1), "
        "y -> struct(x AS u, y AS v)))))"
    )
    return (
        per_order.select(pair_expr.alias("e"))
        .select(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
        .distinct()
    )


def _co_purchase_neighbors(spark: SparkSession, sf_dir: str, key: str) -> DataFrame:
    """The undirected neighbor list (v_, w) — both directions of every
    co-purchase edge — repartitioned on the iterative loop's probe
    `key` and cached, materialized once for every round.

    The cached neighbor table gets an explicit width: it feeds every
    loop round's probe side and must not be byte-coalesced under any
    AQE config.  Width comes from the PRE-distinct scan projection —
    the only frame here whose sizeInBytes is file statistics; the
    distinct() output carries a propagated estimate, which
    cpu_partitions' scan-grade contract forbids (r11 advice; the
    72GB/2MB pagerank incident is what the contract exists to
    prevent).  Scan bytes upper-bound the deduped bytes, so the width
    can only be conservative-wide, never starved."""
    li = _lineitem_parts(spark, sf_dir)
    edges = _co_purchase_edges(li)
    return (
        edges.select(F.col("u").alias("v_"), F.col("v").alias("w"))
        .unionAll(edges.select(F.col("v").alias("v_"), F.col("u").alias("w")))
        .repartition(cpu_partitions(li), key)
        .cache()
    )


def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count triangles in the parts-bought-together graph with the
    degree-ordered orientation + adjacency-intersection ("compact
    forward" / Latapy) scheme.

    Each undirected edge is oriented from its lower-(degree, id) node
    to its higher one, so every triangle is enumerated exactly once AND
    every out-adjacency list is bounded by O(sqrt(m)) even on power-law
    graphs — orienting by id alone would put a hub's whole neighborhood
    on one key.  Triangles are then counted WITHOUT materializing the
    wedge set: for each oriented edge (u, v), the closing third edges
    are exactly N+(u) ∩ N+(v), so one pass over the edges joined with
    the (sorted-array) adjacency of both endpoints and an
    `array_intersect` size-sum gives the count.  The earlier
    wedge-join formulation materialized and re-shuffled every oriented
    wedge (41 M rows at sf0.1 for 1.2 M edges) only to probe them
    against the edge set; intersecting bounded adjacency arrays does
    the same probe with zero wedge shuffle — measured 8.5 s -> 3.1 s
    warm best-of-3 at sf0.1 (see SCALE.md).  The wedge COUNT still
    appears in the audit row, computed for free as C(out_deg, 2).
    Adjacency rows are dimension-keyed (one per part) and join by
    plain equi-join — AQE broadcasts them while they fit and falls
    back to shuffle join at scale; per-row size stays O(sqrt(m)) by
    the orientation bound.  Output is one audit row (edges, oriented
    wedges, triangles, closure rate).
    """
    # edges feeds the degree count twice (u side, v side) and the
    # orientation join once; cache so the build runs once.
    edges = _co_purchase_edges(_lineitem_parts(spark, sf_dir)).cache()
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(
            "node",
            (F.col("deg") * _ORD_BASE + F.col("node")).alias("ord"),
        )
        # node-dimension frame read THREE times (the count gate below,
        # then the du and dv branches — Spark never CSEs across
        # DataFrame branches): cache so the union+agg over the edge
        # set runs once (r14; the same hygiene as the oriented/adj
        # caches below)
        .cache()
    )
    # The degree and adjacency tables are NODE-dimensioned (one row per
    # part), orders of magnitude smaller than the edge set.  AQE cannot
    # size them through the InMemoryRelation boundary (the cached edge
    # build hides the stats), and left to itself it sometimes planned
    # the probe joins as sort-merge — shuffling the full edge set plus
    # every adjacency array, with 2-3x run-to-run swings (measured
    # 3.5 s broadcast-pinned vs 5.7-11 s AQE-chosen at sf0.1).  So the
    # tier is chosen EXPLICITLY from a counted fact: one cheap count on
    # the cached pipeline gates a broadcast hint, and past the gate
    # (node dimension too large to ship) the joins degrade to the
    # shuffle plan that is the only correct answer at that size anyway.
    n_nodes = deg.count()
    bcast_nodes = n_nodes <= ADJ_BROADCAST_ROWS
    du = deg.select(F.col("node").alias("u"), F.col("ord").alias("ord_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("ord").alias("ord_v"))
    if bcast_nodes:
        du, dv = F.broadcast(du), F.broadcast(dv)
    oriented = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(F.col("ord_u") < F.col("ord_v"), F.col("u"))
            .otherwise(F.col("v"))
            .alias("src"),
            F.when(F.col("ord_u") < F.col("ord_v"), F.col("v"))
            .otherwise(F.col("u"))
            .alias("dst"),
        )
    )
    # `oriented` feeds the adjacency build and the probe side; caching
    # collapses what would otherwise be repeated recomputations of the
    # whole edge-build pipeline (same hygiene as pagerank's cached
    # edge set).
    oriented = oriented.cache()
    adj = (
        oriented.groupBy("src")
        .agg(F.sort_array(F.collect_set("dst")).alias("nbrs"))
        .cache()
    )
    au = adj.select(F.col("src").alias("u_"), F.col("nbrs").alias("nu"))
    av = adj.select(F.col("src").alias("v_"), F.col("nbrs").alias("nv"))
    if bcast_nodes:  # same node-dimension gate as the degree joins
        au, av = F.broadcast(au), F.broadcast(av)
    # edge + wedge counts ride ONE aggregation over the adjacency:
    # sum of out-degrees is the edge count, sum of C(out_deg, 2) is
    # exactly the oriented-wedge count the wedge-join formulation
    # materialized row-by-row.
    stats = adj.agg(
        F.sum(F.size("nbrs")).alias("n_edges"),
        F.sum(F.expr("size(nbrs) * (size(nbrs) - 1) div 2")).alias(
            "n_oriented_wedges"
        ),
    )
    # v may have no out-edges (top of the order): its adjacency row is
    # absent, the intersection is empty — the left join + empty-array
    # coalesce keeps the edge contributing 0 rather than dropping it.
    tri = (
        oriented.join(au, F.col("src") == F.col("u_"))
        .join(av, F.col("dst") == F.col("v_"), "left")
        .agg(
            F.sum(
                F.size(
                    F.array_intersect(
                        F.col("nu"), F.coalesce(F.col("nv"), F.array())
                    )
                )
            ).alias("n_triangles")
        )
    )
    return stats.crossJoin(tri).selectExpr(
        "n_edges",
        "n_oriented_wedges",
        "n_triangles",
        "cast(n_triangles as double) / cast(n_oriented_wedges as double)"
        " AS wedge_closure",
    )


TRIANGLE_COUNT_SQL = _EDGES_SQL + f"""
deg AS (
  SELECT node, count(*) * {_ORD_BASE} + node AS ord
  FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
  GROUP BY node
),
oriented AS (
  SELECT CASE WHEN du.ord < dv.ord THEN u ELSE v END AS src,
         CASE WHEN du.ord < dv.ord THEN v ELSE u END AS dst,
         greatest(du.ord, dv.ord) AS dst_ord
  FROM edges
  JOIN deg du ON edges.u = du.node
  JOIN deg dv ON edges.v = dv.node
),
wedges AS (
  SELECT e1.dst AS b, e2.dst AS c
  FROM oriented e1 JOIN oriented e2
    ON e1.src = e2.src AND e1.dst_ord < e2.dst_ord
),
tri AS (
  SELECT count(*) AS n_triangles
  FROM wedges JOIN oriented e3 ON wedges.b = e3.src AND wedges.c = e3.dst
)
SELECT (SELECT count(*) FROM edges) AS n_edges,
       (SELECT count(*) FROM wedges) AS n_oriented_wedges,
       n_triangles,
       CAST(n_triangles AS DOUBLE)
         / CAST((SELECT count(*) FROM wedges) AS DOUBLE) AS wedge_closure
FROM tri
"""


# ---------------------------------------------------------------------------
# Community detection: synchronous label propagation (fixed iterations).
# ---------------------------------------------------------------------------

LPA_ITERS = 4


def graph_communities_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Communities in the parts-bought-together graph via SYNCHRONOUS
    label propagation, made fully deterministic (and therefore
    oracle-checkable): labels start as node ids; each of the
    {LPA_ITERS} fixed rounds relabels every node to the most frequent
    label among its neighbors, ties broken by smallest label; all
    updates apply simultaneously.  Output is the community-size
    histogram (label, size) after the final round.

    Scale shape: one round = one edge-side join against the
    (node, label) table + a two-level hash aggregation — count per
    (node, candidate-label), then argmax per node as
    max(struct(count, -label)) so BOTH levels get map-side partial
    aggregation and the (count DESC, label ASC) tie-break is encoded
    arithmetically (labels are non-negative ids, so max(-label) =
    min(label); the r6 10x run replaced the earlier row_number window
    with this after measuring its extra votes-table shuffle + sort).
    `localCheckpoint` per round bounds lineage.  The undirected
    neighbor list is materialized ONCE, repartitioned by the JOIN key
    `w` and cached — the r6 10x scale run caught the original
    `repartition("v_")`: partitioned on the wrong key, the cached
    edge table silently re-shuffled EVERY round (shuffle bytes 20x at
    10x data); on `w` each round moves only the label table into the
    edges' partitioning.

    The fixed iteration count unrolls into chained MATERIALIZED CTEs
    for the DuckDB oracle (`labelprop_oracle_sql`), the same
    technique as pagerank/kmeans/IVF-Lloyd — integer labels and
    integer counts, so the check is exact, no float residue at all."""
    nbr = _co_purchase_neighbors(spark, sf_dir, "w")
    labels = nbr.select(F.col("v_").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    chain = CheckpointChain()
    # materialize the neighbor cache with an explicit count (round 1
    # would pay it anyway) and size the loop's per-round shuffles from
    # it (functions/sizing.py) — integer votes, so width cannot move
    # values
    n_nbr = nbr.count()
    with scoped_shuffle_partitions(nbr.sparkSession, loop_partitions(n_nbr)):
        for _ in range(LPA_ITERS):
            votes = (
                nbr.join(labels, nbr.w == labels.node)
                .groupBy("v_", "lab")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            # step() frees the previous round's label blocks (ckpt.py).
            # (count DESC, label ASC) argmax as min(struct(-c, lab)):
            # the negated field is the COUNT, which is >= 1 by
            # construction (F.count), so the encoding is sign-safe for
            # any label id scheme — the r6-advice hazard of negating
            # labels (silently wrong tie-breaks if ids ever go
            # negative) can't arise.
            #
            # PER-ROUND checkpoint, kept deliberately (r14 measured the
            # alternative and reverted it): each labels_{k-1} feeds
            # exactly one consumer, so a single end-of-loop step() is
            # legal (linear lineage) and won a quiet-host sf0.1 A/B
            # (8.33 -> 4.84 s) — but the 10x scale-ladder A/B, alone
            # and back-to-back on the same replica, read x10 wall
            # 62.68 -> 74.17 s and shuffle_write 1.745 -> 2.391 GB
            # (12.24x -> 16.84x): without the materialization, each
            # round's join loses the checkpointed labels' exact size
            # and hash partitioning, and the chained plan shuffles ~37%
            # more bytes.  The per-round job dispatch it saves is a
            # fixed local cost; the extra shuffle grows with data —
            # wrong trade at the 100 TB goal
            # (tools/evidence/r14_opt_lpa_ladder_ab.json).
            labels = chain.step(
                votes.groupBy(F.col("v_").alias("node"))
                .agg(
                    F.min(
                        F.struct((-F.col("c")).alias("nc"), F.col("lab"))
                    ).alias("m")
                )
                .select("node", F.col("m.lab").alias("lab")),
                "labels",
            )
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(F.count(F.lit(1)).alias("size"))
    )


def labelprop_oracle_sql(iters: int = LPA_ITERS) -> str:
    """DuckDB replica: the LPA loop unrolled into chained MATERIALIZED
    CTEs (l0..l{iters}), argmax via row_number with the same
    (count DESC, label ASC) tie-break."""
    sql = _NBR_SQL + """
l0 AS MATERIALIZED (
  SELECT DISTINCT v_ AS node, v_ AS lab FROM nbr
)"""
    for k in range(1, iters + 1):
        sql += f""",
l{k} AS MATERIALIZED (
  SELECT v_ AS node, lab FROM (
    SELECT n.v_, l.lab, count(*) AS c,
           row_number() OVER (PARTITION BY n.v_
                              ORDER BY count(*) DESC, l.lab ASC) AS rn
    FROM nbr n JOIN l{k - 1} l ON n.w = l.node
    GROUP BY n.v_, l.lab)
  WHERE rn = 1
)"""
    sql += f"""
SELECT lab AS community, count(*) AS "size" FROM l{iters} GROUP BY lab
"""
    return sql


# --- bounded multi-source BFS -------------------------------------------

BFS_SEEDS = 3
BFS_HOPS = 4


def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distances from a deterministic seed set ({BFS_SEEDS} smallest
    node ids) over the same undirected parts-bought-together graph as
    `graph_communities_labelprop`, bounded to {BFS_HOPS} hops.  Output:
    (node, dist) for every node reached, dist = shortest hop count.

    Spark side is FRONTIER-optimized BFS (the Pregel shape): each round
    joins only the newly-reached frontier against the once-materialized,
    probe-key-partitioned, cached neighbor list, then anti-joins the
    visited set — per-round shuffle is O(frontier edges), not O(E), and
    rounds after the graph is exhausted cost nothing (empty frontier).
    `localCheckpoint` per round bounds lineage exactly like
    pagerank/labelprop.  At 100 TB this is the standard iterative-BFS
    plan: the big neighbor table never re-shuffles, only the (node,
    dist) deltas move.

    The oracle (`bfs_oracle_sql`) instead unrolls bounded Bellman-Ford:
    b{k} = min-dist over (b{k-1} UNION neighbors-of-b{k-1}+1).  On unit
    weights both formulations yield exactly shortest-hop distance for
    every node within {BFS_HOPS} hops — two independent algorithms, one
    integer-exact hash-checked answer (as dedup_clusters: a
    large-star/small-star loop against a recursive-closure oracle)."""
    nbr = _co_purchase_neighbors(spark, sf_dir, "v_")
    seeds = (
        nbr.select(F.col("v_").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(BFS_SEEDS)
    )
    chain = CheckpointChain()
    # ONE checkpoint per hop (r14 optimization, guide §1.2/"don't
    # compute things you throw away"): only the FRONTIER is ever
    # materialized — per-hop slots keep every hop's checkpoint live —
    # and the visited set is the union of those already-materialized
    # blocks (frontiers are disjoint by construction, so the union IS
    # the visited set; a union of LogicalRDD scans recomputes nothing).
    # The previous form additionally checkpointed visited∪frontier
    # every hop: a second action per hop that re-wrote the ENTIRE
    # growing visited set into new blocks — O(hops · reached) copied
    # rows for a set that the anti-join can read as-is.
    # Block-manager residue (r14 advice): because the result reads
    # EVERY frontier, none of the BFS_HOPS+1 per-hop checkpoints can
    # be released inside the operator — they are reclaimed only by
    # free_all_persistent_rdds / driver GC, so harnesses must keep
    # running the between-query sweep (bench.py does; see ckpt.py).
    frontier = chain.step(
        seeds.select("node", F.lit(0).cast("long").alias("dist")), "f0"
    )
    frontiers = [frontier]
    # per-hop joins are O(neighbor rows); loop width from the cached
    # neighbor count (functions/sizing.py), integer-exact either way
    n_nbr = nbr.count()
    with scoped_shuffle_partitions(nbr.sparkSession, loop_partitions(n_nbr)):
        for k in range(1, BFS_HOPS + 1):
            reached = (
                nbr.join(frontier, nbr.v_ == frontier.node)
                .select(F.col("w").alias("node"))
                .distinct()
            )
            visited = frontiers[0].select("node")
            for f in frontiers[1:]:
                visited = visited.unionAll(f.select("node"))
            frontier = chain.step(
                reached.join(visited, "node", "left_anti").select(
                    "node", F.lit(k).cast("long").alias("dist")
                ),
                f"f{k}",
            )
            frontiers.append(frontier)
    out = frontiers[0]
    for f in frontiers[1:]:
        out = out.unionAll(f)
    return out


def bfs_oracle_sql(seeds: int = BFS_SEEDS, hops: int = BFS_HOPS) -> str:
    """DuckDB replica of `graph_bfs_distances` by a DIFFERENT algorithm:
    bounded Bellman-Ford min-distance, unrolled into chained
    MATERIALIZED CTEs (b0..b{hops})."""
    sql = _NBR_SQL + f"""
b0 AS MATERIALIZED (
  SELECT node, 0 AS dist FROM (
    SELECT DISTINCT v_ AS node FROM nbr ORDER BY node LIMIT {seeds})
)"""
    for k in range(1, hops + 1):
        sql += f""",
b{k} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM b{k - 1}
    UNION ALL
    SELECT n.w AS node, b.dist + 1 AS dist
    FROM nbr n JOIN b{k - 1} b ON n.v_ = b.node)
  GROUP BY node
)"""
    sql += f"""
SELECT node, CAST(dist AS BIGINT) AS dist FROM b{hops}
"""
    return sql


QUERIES = {
    "triangle_count": (triangle_count, TRIANGLE_COUNT_SQL),
    # deterministic synchronous label propagation over the co-purchase
    # graph; integer-exact unrolled-CTE oracle.
    "graph_communities_labelprop": (
        graph_communities_labelprop,
        labelprop_oracle_sql(),
    ),
    # bounded multi-source BFS over the same graph; frontier-Pregel in
    # Spark vs unrolled Bellman-Ford in the oracle — two algorithms, one
    # integer-exact answer.
    "graph_bfs_distances": (graph_bfs_distances, bfs_oracle_sql()),
    "pagerank_relations": (pagerank_relations, pagerank_oracle_sql()),
}
