"""Graph analytics over relational edge lists (§2.C extensions — the
reference engine, /root/reference/src/mapreduce.c, is a two-phase
map/reduce runtime with no notion of graphs; these compose the engine's
registered join/aggregate primitives into the two classic distributed
graph kernels an LLM-data pipeline actually runs: triangle counting on a
co-occurrence graph (community density / dup-cluster diagnostics) and
PageRank (importance weighting for corpus sampling).

100 TB posture:
  - the co-occurrence edge build self-joins lineitem on its order key:
    fan-out per order is bounded by lines-per-order (~7 in TPC-H), so the
    pair explosion is O(rows · lines_per_order), not O(rows²), and the
    join is co-partitioned on the order key (one shuffle each side);
  - triangle counting uses DEGREE ORIENTATION (each undirected edge is
    directed from its (degree, id)-smaller endpoint): per-node out-degree
    is bounded by O(sqrt(m)), so the wedge join's fan-out is
    O(m · sqrt(m)) worst case instead of O(m · d_max) — the standard
    scalable formulation (every triangle is counted exactly once, from
    its (deg,id)-minimal vertex). Every join is a plain equi-join Spark
    executes as a shuffle/sort-merge join; no cartesian anywhere. The
    count is one lazy plan with no cache and no eager job, so AQE sees
    (and reuses) the whole edge lineage in a single action;
  - PageRank is the edge-only formulation: per-iteration state is one
    (node, rank) frame, contributions flow through an edges join +
    groupBy(dst) (map-side partial sums), the dangling mass is a 1-row
    aggregate broadcast back via crossJoin (never a driver collect), and
    each iteration's frame is cached + count()-materialized so the
    lineage stays one iteration deep (same discipline as
    dedup_connected_components, dedup.py).

Cross-engine exactness (PLANS.md r05 rules): every emitted value and
every ordering key is exact int64 arithmetic — counts, floor-divided
rank mass (Spark `div` ≡ DuckDB `//`) — so no double-ulp or round-tie
agreement between engines is required anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_sm_spark.registry import REGISTRY
from mapreduce_sm_spark.session import release_caches, table, track_caches

# PageRank fixed-point: total initial mass (integer "rank units"), damping
# 85/100, teleport 15/100, 3 synchronous iterations.
PR_MASS = 10**12
PR_ITERATIONS = 3

# ---------------------------------------------------------------------------
# Part co-occurrence graph: two parts are adjacent iff some order contains
# both. Canonical undirected edge (p1 < p2), deduplicated.
# ---------------------------------------------------------------------------


def cooccurrence_edges(lineitem: DataFrame) -> DataFrame:
    """Distinct undirected co-occurrence edges (p1 < p2) from an order's
    part set. Self-join co-partitioned on l_orderkey; fan-out bounded by
    lines-per-order."""
    a = lineitem.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p1")
    )
    b = lineitem.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p2")
    )
    return (
        a.join(b, "k")
        .filter(F.col("p1") < F.col("p2"))
        .select("p1", "p2")
        .distinct()
    )


def _oriented_nodes(edges: DataFrame) -> DataFrame:
    """Per-node frame (node, deg, nbrs): undirected degree and the
    out-neighbour list under degree orientation — each edge directed from
    its (deg, id)-smaller endpoint, so every size(nbrs) is O(sqrt(m)).
    Sinks carry an empty list."""
    deg = (
        edges.select(F.col("p1").alias("node"))
        .unionAll(edges.select(F.col("p2").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    d1 = deg.select(F.col("node").alias("p1"), F.col("deg").alias("deg1"))
    d2 = deg.select(F.col("node").alias("p2"), F.col("deg").alias("deg2"))
    first_is_src = (F.col("deg1") < F.col("deg2")) | (
        (F.col("deg1") == F.col("deg2")) & (F.col("p1") < F.col("p2"))
    )
    out = (
        edges.join(d1, "p1")
        .join(d2, "p2")
        .select(
            F.when(first_is_src, F.col("p1")).otherwise(F.col("p2")).alias("node"),
            F.when(first_is_src, F.col("p2")).otherwise(F.col("p1")).alias("dst"),
        )
        .groupBy("node")
        .agg(F.collect_list("dst").alias("nbrs"))
    )
    return deg.join(out, "node", "left").select(
        "node", "deg", F.coalesce(F.col("nbrs"), F.array()).alias("nbrs")
    )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """1-row frame (n_nodes, n_edges, n_wedges, n_triangles), all int64.

    One lazy plan over the per-node frame of `_oriented_nodes`: building
    it starts no Spark job and persists nothing, and AQE reuses the
    repeated edge subtree's exchanges within the single action.
    """
    nodes = _oriented_nodes(edges)
    # exact int64 arithmetic throughout (module contract): deg*(deg-1) is
    # even, so `div 2` is exact; a double `/ 2` sum would lose low bits
    # past 2^53 while the oracle sums exactly. coalesce: an empty edge set
    # must emit 0 like the oracle's count(*), not a NULL sum
    summary = nodes.agg(
        F.count("*").alias("n_nodes"),
        F.coalesce(F.expr("sum(deg) div 2"), F.lit(0))
        .cast("long")
        .alias("n_edges"),
        F.coalesce(F.expr("sum(deg * (deg - 1) div 2)"), F.lit(0))
        .cast("long")
        .alias("n_wedges"),
    )
    # Compact-forward counting: a triangle with orientation-ordered
    # vertices u -> v -> w is found exactly once at edge (u, v) as
    # w in N+(u) intersect N+(v). The wedge set (sum of out-deg^2, 83M
    # pairs at sf0.1) never becomes rows: each oriented edge row carries
    # N+(u) and does one JVM-side array_intersect instead.
    nu = nodes.select(F.explode("nbrs").alias("v"), F.col("nbrs").alias("nu"))
    nv = nodes.select(F.col("node").alias("v"), F.col("nbrs").alias("nv"))
    tri = nu.join(nv, "v").agg(
        F.coalesce(F.sum(F.size(F.array_intersect("nu", "nv"))), F.lit(0))
        .cast("long")
        .alias("n_triangles")
    )
    return summary.crossJoin(tri).select(
        "n_nodes", "n_edges", "n_wedges", "n_triangles"
    )


_TRIANGLE_ORACLE = """
WITH edges AS (
  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, count(*) AS deg
  FROM (SELECT p1 AS node FROM edges UNION ALL SELECT p2 AS node FROM edges)
  GROUP BY node
),
oriented AS (
  SELECT CASE WHEN (d1.deg < d2.deg)
                OR (d1.deg = d2.deg AND e.p1 < e.p2)
              THEN e.p1 ELSE e.p2 END AS src,
         CASE WHEN (d1.deg < d2.deg)
                OR (d1.deg = d2.deg AND e.p1 < e.p2)
              THEN e.p2 ELSE e.p1 END AS dst
  FROM edges e
  JOIN deg d1 ON d1.node = e.p1
  JOIN deg d2 ON d2.node = e.p2
),
tri AS (
  SELECT count(*) AS n_triangles
  FROM oriented e1
  JOIN oriented e2 ON e2.src = e1.dst
  JOIN oriented e3 ON e3.src = e1.src AND e3.dst = e2.dst
)
SELECT (SELECT count(*) FROM deg) AS n_nodes,
       (SELECT count(*) FROM edges) AS n_edges,
       (SELECT COALESCE(CAST(sum(deg * (deg - 1) // 2) AS BIGINT), 0)
        FROM deg) AS n_wedges,
       (SELECT n_triangles FROM tri) AS n_triangles
"""


@REGISTRY.register(
    "graph_triangle_count",
    oracle=_TRIANGLE_ORACLE,
    description="degree-oriented triangle count on the part co-occurrence graph",
    headline=True,
    tags=("graph", "join", "scale"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return triangle_stats(cooccurrence_edges(li))


# ---------------------------------------------------------------------------
# PageRank on the part -> supplier supply graph (directed; suppliers have
# no out-edges, so the dangling-mass redistribution path is genuinely
# exercised). Integer fixed-point: rank mass is int64 "units"; every
# division is a floor division evaluated identically by Spark's `div` and
# DuckDB's `//`, so 3 iterations produce bit-identical int64 ranks in
# both engines with no floating point anywhere.
#
#   r0(v)  = MASS div N
#   r_k(v) = (15 * (MASS div N)) div 100
#            + (85 * (in_sum(v) + dang div N)) div 100
#   in_sum(v) = sum over edges u->v of (r_{k-1}(u) div outdeg(u))
#   dang      = sum of r_{k-1}(u) over nodes with no out-edge
# ---------------------------------------------------------------------------


def pagerank_int(
    edges: DataFrame, iterations: int = PR_ITERATIONS, mass: int = PR_MASS
) -> DataFrame:
    """(node, rank int64) after `iterations` synchronous integer steps.

    edges: (src string, dst string). No driver collect: N and the
    dangling sum travel as 1-row broadcast frames.
    """
    from pyspark.sql import Window

    release_caches("graph.pagerank")  # one-generation discipline, session.py
    # r16 opt-round setup rework (guide 2.4): the loop's ONLY edge-sized
    # input is built in ONE pass — out-degree fused in with a window
    # over src, whose exchange IS the src-hash partitioning the
    # per-iteration join needs. The previous shape cached the raw edge
    # set, self-joined it against a separate outdeg aggregate and
    # re-partitioned: two extra cache materializations and an extra
    # edge-sized exchange per invocation, for the same cached frame.
    # The cached InMemoryTableScan reports the src partitioning, so the
    # per-iteration exchanges are all NODE-sized (r to src-hash, the
    # partially-aggregated in_sum). At 100 TB this is the difference
    # between iterations x |E| and one |E| exchange total.
    # Skew note (ADVICE r16 / VERDICT r16 item 7): the window buffers
    # each src's out-edges in one task (AQE skew-join splitting does not
    # apply to window exchanges), so a power-law hub costs per-partition
    # buffering/spill — WindowExec's ExternalAppendOnlyUnsafeRowArray
    # spills to disk rather than OOMing, and correctness is unaffected
    # (pinned at a synthetic 100k-out-degree hub in tests/test_graph.py).
    # The partial-aggregable groupBy+join shape avoids the buffering but
    # costs a second edge-sized exchange per invocation — the wrong
    # default; revisit only if hub degrees approach executor memory.
    edges_od = (
        edges.select("src", "dst")
        .withColumn("od", F.count("*").over(Window.partitionBy("src")))
        .cache()
    )
    edges_od.count()
    # nodes with no out-edge are a STATIC set; carry the flag IN the
    # rank frame so the per-iteration dangling mass is a filter+sum over
    # r instead of a semi-join against a separate cached node set.
    # r17: the flag is folded into ONE partial-aggregable groupBy over
    # the union of endpoint roles (has_out = max(is_src)) — the old
    # shape ran distinct(union) + a second distinct + a left join, i.e.
    # three node-or-edge-sized exchanges for the same (node, has_out)
    # set; this is one exchange of 2|E| pre-aggregated rows.
    nodes_fl = (
        edges_od.select(F.col("src").alias("node"), F.lit(True).alias("s"))
        .union(
            edges_od.select(F.col("dst").alias("node"), F.lit(False).alias("s"))
        )
        .groupBy("node")
        .agg(F.max("s").alias("has_out"))
        .cache()
    )
    nodes_fl.count()
    nn = nodes_fl.agg(F.count("*").alias("n"))

    r = nodes_fl.crossJoin(F.broadcast(nn)).select(
        "node", "has_out", F.expr(f"{mass} div n").alias("rank")
    )
    base = F.expr(f"(15 * ({mass} div n)) div 100")
    prev_r: DataFrame | None = None
    for _ in range(iterations):
        r = r.cache()
        r.count()  # one-iteration-deep lineage (see module docstring)
        # r_k is materialized; r_{k-1}'s blocks are dead weight from here
        # (cache() is MEMORY_AND_DISK, so the freed frame can't silently
        # recompute — eviction spills, it doesn't drop). Without this the
        # loop leaks `iterations` cached frames per invocation.
        if prev_r is not None:
            prev_r.unpersist()
        prev_r = r
        in_sum = (
            edges_od.join(r, F.col("src") == F.col("node"))
            .select("dst", F.expr("rank div od").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
            .withColumnRenamed("dst", "node")
        )
        dang = r.filter(~F.col("has_out")).agg(
            F.coalesce(F.sum("rank"), F.lit(0)).alias("dang")
        )
        r = (
            nodes_fl.crossJoin(F.broadcast(nn))
            .crossJoin(F.broadcast(dang))
            .join(in_sum, "node", "left")
            .select(
                "node",
                "has_out",
                (
                    base
                    + F.expr(
                        "(85 * (coalesce(in_sum, 0) + (dang div n))) div 100"
                    )
                ).alias("rank"),
            )
        )
    # the LAST iteration's cached frame plus edges_od/nodes_fl stay
    # live for the caller's collect over the returned lazy plan; the next
    # invocation reclaims them (one-generation cache discipline)
    track_caches("graph.pagerank", edges_od, nodes_fl, prev_r)
    return r.select("node", "rank")


def _pagerank_oracle() -> str:
    iters = []
    prev = "r0"
    for k in range(1, PR_ITERATIONS + 1):
        iters.append(f"""
c{k} AS (
  SELECT e.dst AS node, sum(r.rank // o.od) AS in_sum
  FROM edges e
  JOIN {prev} r ON r.node = e.src
  JOIN outdeg o ON o.node = e.src
  GROUP BY e.dst
),
d{k} AS (
  SELECT COALESCE(sum(r.rank), 0) AS dang
  FROM {prev} r LEFT JOIN outdeg o ON o.node = r.node
  WHERE o.node IS NULL
),
r{k} AS (
  SELECT n2.node,
         (SELECT (15 * ({PR_MASS} // n)) // 100 FROM nn)
         + (85 * (COALESCE(c.in_sum, 0)
                  + (SELECT dang FROM d{k}) // (SELECT n FROM nn))) // 100
           AS rank
  FROM nodes n2 LEFT JOIN c{k} c ON c.node = n2.node
)""")
        prev = f"r{k}"
    return f"""
WITH edges AS (
  SELECT DISTINCT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst
  FROM lineitem
),
nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges
),
nn AS (SELECT count(*) AS n FROM nodes),
outdeg AS (SELECT src AS node, count(*) AS od FROM edges GROUP BY src),
r0 AS (
  SELECT node, (SELECT {PR_MASS} // n FROM nn) AS rank FROM nodes
),{",".join(iters)}
SELECT node, CAST(rank AS BIGINT) AS rank FROM {prev}
ORDER BY rank DESC, node ASC
LIMIT 20
"""


@REGISTRY.register(
    "pagerank_supply_graph",
    oracle=_pagerank_oracle(),
    description=f"{PR_ITERATIONS}-iteration integer PageRank on the part->supplier graph, top 20",
    headline=True,
    tags=("graph", "iterative", "scale"),
)
def pagerank_supply_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    # r17: ONE corpus exchange instead of two. distinct() would exchange
    # on (src, dst) and the loop's src-window then exchange AGAIN on src;
    # hash-partitioning on src FIRST also clusters (src, dst) — the
    # dedup runs partition-locally on top of it and the window finds its
    # required distribution already satisfied (A/B: sf0.1 wins 2/3
    # alternating pairs by ~0.5 s, x10 wins 3/3, 8.45 -> 6.09 s best
    # pair; rows identical — dropDuplicates == distinct). Trade: the
    # exchange ships raw rows, not map-side-deduped ones — right while
    # the (part, supplier) repeat factor stays low (~1.0-2.5x measured
    # at both decades); a high-duplication graph would want distinct()
    # back. Hub skew lands in one partition, same documented class as
    # the loop's src window (spills, never OOMs; pinned hub test below).
    edges = (
        li.select(
            F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .repartition("src")
        .dropDuplicates(["src", "dst"])
    )
    r = pagerank_int(edges)
    return r.orderBy(F.col("rank").desc(), F.col("node").asc()).limit(20)
