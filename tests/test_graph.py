"""Graph kernels on hand-built graphs with known closed-form answers —
independent of the fixture oracle (a shared misreading of the fixture
cannot hide here; the triangle/wedge counts and integer PageRank values
below are computed by hand in the comments)."""

from __future__ import annotations

from itertools import combinations

import pytest

from mapreduce_sm_spark.operators.graph import (
    _oriented_nodes,
    pagerank_int,
    triangle_stats,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "p1 long, p2 long")


def test_triangle_k4(spark):
    # K4: 4 nodes, 6 edges, C(4,3)=4 triangles, 4 * C(3,2)=12 wedges
    k4 = _edges(
        spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    )
    row = triangle_stats(k4).collect()[0]
    assert tuple(row) == (4, 6, 12, 4)


def test_triangle_path_has_none(spark):
    # path 1-2-3: one wedge at node 2, no triangle
    row = triangle_stats(_edges(spark, [(1, 2), (2, 3)])).collect()[0]
    assert tuple(row) == (3, 2, 1, 0)


def test_triangle_star_plus_closing_edge(spark):
    # star 0-{1,2,3} plus edge 1-2: degrees 3,2,2,1 ->
    # wedges C(3,2)+C(2,2 choose)=3+1+1+0=5, one triangle (0,1,2)
    g = _edges(spark, [(0, 1), (0, 2), (0, 3), (1, 2)])
    row = triangle_stats(g).collect()[0]
    assert tuple(row) == (4, 4, 5, 1)


@pytest.mark.parametrize(
    "pairs, want, out",
    [
        # K5: every degree is 4. C(5,2)=10 edges, 5 * C(4,2)=30 wedges,
        # C(5,3)=10 triangles
        (
            list(combinations(range(1, 6), 2)),
            (5, 10, 30, 10),
            {i: list(range(i + 1, 6)) for i in range(1, 6)},
        ),
        # C5: every degree is 2; 5 wedges, no triangle
        (
            [(1, 2), (2, 3), (3, 4), (4, 5), (1, 5)],
            (5, 5, 5, 0),
            {1: [2, 5], 2: [3], 3: [4], 4: [5], 5: []},
        ),
    ],
    ids=["K5", "C5"],
)
def test_triangle_all_degrees_tied(spark, pairs, want, out):
    # equal degrees everywhere: orientation is the id tie-break alone
    g = _edges(spark, pairs)
    assert tuple(triangle_stats(g).collect()[0]) == want
    got = {r["node"]: sorted(r["nbrs"]) for r in _oriented_nodes(g).collect()}
    assert got == out


def test_orientation_points_edges_away_from_the_hub(spark):
    """Degree orientation, not id order: on a star K1,40 (hub id 0) plus
    one edge closing leaves 1 and 2, every star edge points at the hub, so
    the hub has no out-neighbours and every out-list is within sqrt(2m) --
    the bound the O(m * sqrt(m)) intersect cost rests on. Plain id order
    would give the hub all 40 leaves."""
    pairs = [(0, leaf) for leaf in range(1, 41)] + [(1, 2)]
    g = _edges(spark, pairs)
    nbrs = {r["node"]: r["nbrs"] for r in _oriented_nodes(g).collect()}
    assert nbrs[0] == []
    assert max(len(n) for n in nbrs.values()) <= (2 * len(pairs)) ** 0.5
    # degrees 40, 2, 2 and 38 ones: C(40,2) + 1 + 1 = 782 wedges
    assert tuple(triangle_stats(g).collect()[0]) == (41, 41, 782, 1)


def test_triangle_stats_is_one_lazy_plan(spark):
    """Building the count starts no Spark job, and its executed plan
    reads no cached relation: the whole count is one action."""
    tracker = spark.sparkContext.statusTracker()

    def last_job():
        return max(tracker.getJobIdsForGroup(), default=-1)

    g = _edges(spark, [(0, 1), (0, 2), (0, 3), (1, 2)])
    before = last_job()
    df = triangle_stats(g)
    assert last_job() == before
    assert tuple(df.collect()[0]) == (4, 4, 5, 1)
    assert last_job() > before  # the probe does see the jobs an action starts
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("InMemoryRelation", "InMemoryTableScan"):
        assert node not in plan, plan


def _str_edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_pagerank_cycle_is_uniform_fixed_point(spark):
    # 3-cycle, mass 300: r0 = 100 each; every iteration
    # r' = (15*100)//100 + (85*(100+0))//100 = 15 + 85 = 100 — a fixed point
    e = _str_edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    got = {r["node"]: r["rank"] for r in pagerank_int(e, 3, 300).collect()}
    assert got == {"a": 100, "b": 100, "c": 100}


def test_pagerank_dangling_two_iterations_exact(spark):
    # a -> b, mass 200: r0 = 100 each; b is dangling.
    # iter1: in_sum(b)=100//1=100, dang=100, share=100//2=50,
    #   base=(15*100)//100=15
    #   r1(a)=15+(85*50)//100=15+42=57; r1(b)=15+(85*150)//100=15+127=142
    # iter2: in_sum(b)=57, dang=142, share=71
    #   r2(a)=15+(85*71)//100=15+60=75; r2(b)=15+(85*128)//100=15+108=123
    e = _str_edges(spark, [("a", "b")])
    got = {r["node"]: r["rank"] for r in pagerank_int(e, 2, 200).collect()}
    assert got == {"a": 75, "b": 123}


def test_pagerank_supply_graph_shape(spark):
    from mapreduce_sm_spark.operators.graph import pagerank_supply_graph

    from tests.conftest import SF_DIR

    df = pagerank_supply_graph(spark, SF_DIR)
    rows = df.collect()
    assert df.columns == ["node", "rank"]
    assert len(rows) == 20
    assert all(r["node"][:2] in ("p:", "s:") for r in rows)
    ranks = [r["rank"] for r in rows]
    assert ranks == sorted(ranks, reverse=True)


def test_triangle_empty_edge_set_emits_zeros(spark):
    # sparse-but-valid input: all aggregates must be 0, never NULL
    # (cross-engine: the oracle's count(*) forms emit 0 on empty too)
    empty = spark.createDataFrame([], "p1 long, p2 long")
    row = triangle_stats(empty).collect()[0]
    assert tuple(row) == (0, 0, 0, 0)


def test_pagerank_hub_window_skew_completes_exactly(spark):
    """r17 (VERDICT r16 item 7 / ADVICE r16): the one-pass edge build
    computes out-degree with count(*) over a src-partitioned window, so
    a hub source's entire out-edge set lands in ONE WindowExec buffer
    (AQE skew handling does not apply to window exchanges; the buffer
    spills via ExternalAppendOnlyUnsafeRowArray rather than OOMing).
    Pin the behavior at a synthetic 100k-out-degree hub: the run must
    complete and match the hand-computed integer recurrence exactly —
    the skew costs buffering, never correctness.

    Graph: h -> d_0..d_{N-1}; every d_i is dangling. n = N + 1 nodes.
    r0 = mass div n for all; base = (15 * (mass div n)) div 100;
    iter: in_sum(d_i) = r(h) div N, dang = N * r(d),
          r'(h) = base + (85 * (dang div n)) div 100
          r'(d) = base + (85 * (r(h) div N + dang div n)) div 100
    """
    from pyspark.sql import functions as F

    n_out = 100_000
    mass = 1_000_000_000
    edges = spark.range(n_out).select(
        F.lit("h").alias("src"),
        F.concat(F.lit("d"), F.col("id")).alias("dst"),
    )

    n = n_out + 1
    r_h = r_d = mass // n
    base = (15 * (mass // n)) // 100
    for _ in range(2):
        in_d = r_h // n_out
        dang = n_out * r_d
        r_h, r_d = (
            base + (85 * (dang // n)) // 100,
            base + (85 * (in_d + dang // n)) // 100,
        )

    got = {
        r["node"]: r["rank"]
        for r in pagerank_int(edges, 2, mass)
        .filter(F.col("node").isin("h", "d0", f"d{n_out - 1}"))
        .collect()
    }
    assert got == {"h": r_h, "d0": r_d, f"d{n_out - 1}": r_d}
