"""Round-6 fixes: the three ADVICE r5 correctness items.

1. ``distance_one_coloring(rand_df=...)`` INNER-joined conflicts with the
   tie-break table, so a conflicting vertex missing from ``rand_df``
   silently dropped its conflict row — an invalid coloring instead of an
   error. Now a coverage guard raises up front.
2. The LPA ids32 gate admitted ``min_id == -2^31``, but the tie-break
   negates the int32 label inside the max_by struct; ``-(-2^31)`` wraps
   under non-ANSI Spark and corrupts the tie ordering for that label.
3. On the louvain hints path, ids32 auto-enabled from the UNVERIFIED
   nv_hint dense-renumbering contract; sparse or >int32 ids then wrapped
   through silent non-ANSI casts. Hints are now trusted only when the
   multiphase driver vouches for its own renumbering (``_dense_ids``).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from grappolo_spark.graph import Graph

INT32_MIN = -(1 << 31)


def test_rand_df_coverage_guard_raises(spark):
    from grappolo_spark.operators.coloring import distance_one_coloring

    g = Graph.from_pairs(spark, [(1, 2), (2, 3), (1, 3)])
    # covers only v=1,2 — vertex 3 has no tie-break value
    partial = spark.createDataFrame(
        [(1, 0.25), (2, 0.75)], "v long, rand double"
    )
    with pytest.raises(ValueError, match="rand_df"):
        distance_one_coloring(g, rand_df=partial)


def test_rand_df_full_coverage_still_colors(spark):
    from grappolo_spark.operators.coloring import (
        distance_one_coloring,
        verify_coloring,
    )

    g = Graph.from_pairs(spark, [(1, 2), (2, 3), (1, 3)])
    full = spark.createDataFrame(
        [(1, 0.25), (2, 0.75), (3, 0.5)], "v long, rand double"
    )
    colors = distance_one_coloring(g, rand_df=full)
    assert verify_coloring(g, colors) == 0


def test_lpa_ids32_gate_excludes_int32_min(spark):
    """A label of exactly -2^31 must not enter the int32 tie-break: v=0 sees
    neighbor labels {-2^31, 5} at equal weight and must pick the SMALLER
    (-2^31); the wrapped negation would pick 5."""
    from grappolo_spark.operators.labelprop import label_propagation

    g = Graph.from_pairs(spark, [(0, INT32_MIN), (0, 5)])
    out = label_propagation(
        g, max_iters=1, stop_on_converge=False, local_threshold=0
    )
    got = {r["v"]: r["label"] for r in out.collect()}
    assert got[0] == INT32_MIN
    # and the forced-distributed path matches the local replay exactly
    local = label_propagation(
        g, max_iters=1, stop_on_converge=False, local_threshold=10**9
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, local.collect())
    )


def _louvain_rows(res):
    return sorted((r["v"], r["comm"]) for r in res.assignment.collect())


def test_louvain_hints_do_not_auto_narrow_unverified_ids(spark):
    """Public caller passes hints over ids far beyond int32: the hint-derived
    bound (0..nv_hint-1) is wrong, so ids32 must NOT auto-engage — the run
    must match the no-hints (stats-verified) run exactly."""
    from grappolo_spark.operators.louvain import louvain_one_phase

    big = 1 << 31  # first id outside int32
    pairs = [(big + 1, big + 2), (big + 2, big + 3), (big + 1, big + 3),
             (big + 10, big + 11)]
    g = Graph.from_pairs(spark, pairs)
    two_m = g.edges.agg(F.sum("weight")).collect()[0][0]
    ref = louvain_one_phase(g, max_iters=2)
    hinted = louvain_one_phase(
        g, max_iters=2, two_m_hint=two_m, nv_hint=5
    )
    assert _louvain_rows(hinted) == _louvain_rows(ref)


def test_louvain_explicit_ids32_with_bad_hints_falls_back(spark):
    """Explicit ids32=True with unverified hints triggers the one-time
    bounds scan, which sees the >int32 ids and keeps the long path —
    results still match the reference run."""
    from grappolo_spark.operators.louvain import louvain_one_phase

    big = 1 << 31
    pairs = [(big + 1, big + 2), (big + 2, big + 3), (big + 1, big + 3)]
    g = Graph.from_pairs(spark, pairs)
    two_m = g.edges.agg(F.sum("weight")).collect()[0][0]
    ref = louvain_one_phase(g, max_iters=2)
    hinted = louvain_one_phase(
        g, max_iters=2, two_m_hint=two_m, nv_hint=4, ids32=True
    )
    assert _louvain_rows(hinted) == _louvain_rows(ref)


def _phase_tuple(res):
    return (
        res.modularity,
        res.iterations,
        sorted((r["v"], r["comm"]) for r in res.assignment.collect()),
    )


def test_louvain_small_state_matches_distributed(spark, monkeypatch):
    """The driver-held-state fast path must be bit-identical to the
    distributed superstep loop (integer-valued weights => every aggregate
    exact), including smart_init and a weighted graph."""
    from grappolo_spark.operators import louvain as L
    from grappolo_spark.sources.fixtures import grid3d, karate

    weighted = Graph.from_pairs(
        spark,
        [(0, 1, 3.0), (1, 2, 2.0), (2, 0, 1.0), (3, 4, 5.0), (4, 5, 4.0),
         (5, 3, 1.0), (2, 3, 1.0), (6, 6, 2.0), (7, 7, 1.0)],
    )
    for g in (karate(spark), grid3d(spark, 3, 3, 3), weighted):
        for si in (False, True):
            small = L.louvain_one_phase(g, max_iters=4, smart_init=si)
            t_small = _phase_tuple(small)
            monkeypatch.setattr(L, "_SMALL_STATE_MAX", 0)
            dist = L.louvain_one_phase(g, max_iters=4, smart_init=si)
            monkeypatch.undo()
            assert t_small == _phase_tuple(dist), (si, g)


def test_louvain_small_state_init_assign_matches(spark, monkeypatch):
    from grappolo_spark.operators import louvain as L
    from grappolo_spark.sources.fixtures import karate

    g = karate(spark)
    init = g.vertex_ids().select("v", (F.col("v") % 5).alias("comm"))
    small = L.louvain_one_phase(g, max_iters=3, init_assign=init)
    t_small = _phase_tuple(small)
    monkeypatch.setattr(L, "_SMALL_STATE_MAX", 0)
    dist = L.louvain_one_phase(g, max_iters=3, init_assign=init)
    monkeypatch.undo()
    assert t_small == _phase_tuple(dist)


def test_multiphase_distributed_small_state_matches(spark, monkeypatch):
    """End-to-end forced-distributed multiphase (the bench diagnostic
    line) with and without the small-state fast path."""
    from grappolo_spark.operators import louvain as L
    from grappolo_spark.operators.multiphase import louvain
    from grappolo_spark.sources.fixtures import karate

    g = karate(spark)
    r_small = louvain(g, max_phases=3, smart_init=True, local_threshold=0)
    t_small = (
        r_small.modularity,
        r_small.num_clusters,
        r_small.total_iterations,
        sorted((r["v"], r["comm"]) for r in r_small.assignment.collect()),
    )
    monkeypatch.setattr(L, "_SMALL_STATE_MAX", 0)
    r_dist = louvain(g, max_phases=3, smart_init=True, local_threshold=0)
    monkeypatch.undo()
    t_dist = (
        r_dist.modularity,
        r_dist.num_clusters,
        r_dist.total_iterations,
        sorted((r["v"], r["comm"]) for r in r_dist.assignment.collect()),
    )
    assert t_small == t_dist


def test_multihash_numpy_matches_spark(spark):
    """The numpy multihash coloring must reproduce multihash_coloring's
    colors exactly (bit-exact xxhash64 replay + same local-max/min rule)."""
    import numpy as np

    from grappolo_spark.operators.coloring import (
        _multihash_colors_np,
        multihash_coloring,
    )
    from grappolo_spark.sources.fixtures import grid3d, karate

    for g in (karate(spark), grid3d(spark, 3, 4, 5)):
        want = {r["v"]: r["color"] for r in multihash_coloring(g).collect()}
        pdf = g.edges.select("src", "dst").toPandas()
        es = pdf["src"].to_numpy(np.int64)
        ed = pdf["dst"].to_numpy(np.int64)
        ids = np.unique(np.concatenate([es, ed]))
        s_idx = np.searchsorted(ids, es)
        d_idx = np.searchsorted(ids, ed)
        m = s_idx != d_idx
        got = _multihash_colors_np(ids, s_idx[m], d_idx[m])
        assert {int(v): int(c) for v, c in zip(ids, got)} == want


def test_colored_phase_numpy_coloring_matches_spark_route(spark, monkeypatch):
    """louvain_one_phase_colored via the numpy coloring + driver state
    build must equal the Spark coloring + probed state route."""
    from grappolo_spark.operators import coloring as C
    from grappolo_spark.sources.fixtures import karate

    g = karate(spark)
    for cap in (8, 3):
        res_np = C.louvain_one_phase_colored(
            g, thresh=1e-6, max_iters=4, num_colors_cap=cap,
            coloring_algo="multihash", nv_hint=34,
        )
        t_np = (
            res_np.modularity,
            res_np.iterations,
            sorted((r["v"], r["comm"]) for r in res_np.assignment.collect()),
        )
        monkeypatch.setattr(C, "_SMALL_EDGES_MAX", 0)  # force Spark route
        res_sp = C.louvain_one_phase_colored(
            g, thresh=1e-6, max_iters=4, num_colors_cap=cap,
            coloring_algo="multihash", nv_hint=34,
        )
        monkeypatch.undo()
        t_sp = (
            res_sp.modularity,
            res_sp.iterations,
            sorted((r["v"], r["comm"]) for r in res_sp.assignment.collect()),
        )
        assert t_np == t_sp, cap


def test_colored_class_sweep_numpy_matches_spark(spark, monkeypatch):
    """The full-numpy class sweep (driver edge copy + integer-valued
    weights => exact sums) must be bit-identical to the Spark class jobs
    it replays, across palettes incl. the overflow (Jacobi) class. The
    fractional-weight graph exercises the gate: its sums are order-
    sensitive, so both runs take the Spark route and stay equal."""
    from grappolo_spark.operators import coloring as C
    from grappolo_spark.sources.fixtures import grid3d, karate

    weighted = Graph.from_pairs(
        spark,
        [(0, 1, 3.0), (1, 2, 2.0), (2, 0, 1.0), (3, 4, 5.0), (4, 5, 4.0),
         (5, 3, 1.0), (2, 3, 1.0), (6, 6, 2.0), (7, 7, 1.0)],
    )
    fractional = Graph.from_pairs(
        spark,
        [(0, 1, 0.5), (1, 2, 0.25), (2, 0, 1.5), (3, 4, 2.5), (4, 5, 0.75),
         (5, 3, 1.0), (2, 3, 0.125)],
    )
    cases = [
        (karate(spark), 34, 8),
        (karate(spark), 34, 3),
        (grid3d(spark, 3, 3, 3), 27, 8),
        (weighted, 8, 8),
        (fractional, 6, 8),
    ]
    for g, nv, cap in cases:
        res_np = C.louvain_one_phase_colored(
            g, thresh=1e-6, max_iters=4, num_colors_cap=cap,
            coloring_algo="multihash", nv_hint=nv,
        )
        t_np = _phase_tuple(res_np)
        monkeypatch.setattr(C, "_NP_CLASS_SWEEP", False)
        res_sp = C.louvain_one_phase_colored(
            g, thresh=1e-6, max_iters=4, num_colors_cap=cap,
            coloring_algo="multihash", nv_hint=nv,
        )
        monkeypatch.undo()
        assert t_np == _phase_tuple(res_sp), (nv, cap)


def test_multiphase_colored_np_continuation_matches(spark, monkeypatch):
    """The driver-side continuation (numpy renumber/coarsen/tail/fold after
    a numpy colored phase) must reproduce the Spark-route multiphase run
    exactly: assignment, modularity, clusters, phases, iterations, history.
    min_graph_size=5 exercises the local-tail composition; =1 keeps
    coloring on for later phases (the continuation's fallback to the
    normal distributed flow)."""
    from grappolo_spark.operators import coloring as C
    from grappolo_spark.operators.multiphase import louvain
    from grappolo_spark.sources.fixtures import grid3d, karate

    def run(g, mgs):
        r = louvain(
            g, max_phases=3, coloring=True, min_graph_size=mgs,
            num_colors_cap=8, coloring_algo="multihash",
        )
        return (
            r.modularity,
            r.num_clusters,
            r.phases,
            r.total_iterations,
            [
                (h["phase"], h["modularity"], h["clusters"], h["iterations"],
                 h.get("vertices"), h["colored"])
                for h in r.phase_history
            ],
            sorted((x["v"], x["comm"]) for x in r.assignment.collect()),
        )

    for g in (karate(spark), grid3d(spark, 3, 3, 3)):
        for mgs in (5, 1):
            t_np = run(g, mgs)
            monkeypatch.setattr(C, "_NP_CLASS_SWEEP", False)
            t_sp = run(g, mgs)
            monkeypatch.undo()
            assert t_np == t_sp, mgs


def _fractional_multipartition_graph(spark):
    """~22k symmetrized edge rows with fractional weights, cached over 8
    partitions, so per-dst sums fold rows from several map partitions."""
    import numpy as np

    rng = np.random.default_rng(7)
    nv = 2000
    u = rng.integers(0, nv, 11_000)
    v = rng.integers(0, nv, 11_000)
    w = rng.random(11_000) + 0.01
    ring = np.arange(nv)  # every vertex gets an edge: no dangling vertex
    pairs = list(zip(u.tolist(), v.tolist(), w.tolist())) + list(
        zip(ring.tolist(), ((ring + 1) % nv).tolist(), [0.3] * nv)
    )
    g = Graph.from_pairs(spark, pairs)
    edges = g.edges.repartition(8).persist()
    assert edges.count() > 20_000 and edges.rdd.getNumPartitions() == 8
    return Graph(edges=edges, directed=g.directed, deduped=g.deduped)


def test_pagerank_driver_ranks_matches(spark, monkeypatch):
    """The collect-once driver pagerank route must be bit-identical to the
    committed-state broadcast loop: bincount folds each dst's rows from
    0.0 in the dst-partitioned table's order, as the loop's exchange-free
    sum does, and the contribution and rank update are the same IEEE
    expressions. Covers weighted, unweighted, fractional weights over
    several partitions, and a graph with an explicit-vertex side
    (non-sym_complete base build)."""
    import importlib

    from grappolo_spark.sources.fixtures import grid3d, karate

    # the operators package re-exports the pagerank FUNCTION under the
    # module's name; resolve the module itself for monkeypatching
    P = importlib.import_module("grappolo_spark.operators.pagerank")

    weighted = Graph.from_pairs(
        spark,
        [(0, 1, 3.0), (1, 2, 2.0), (2, 0, 1.0), (3, 4, 5.0), (4, 5, 4.0),
         (5, 3, 1.0), (2, 3, 1.0), (6, 6, 2.0)],
    )
    fractional = _fractional_multipartition_graph(spark)
    for g in (karate(spark), grid3d(spark, 3, 3, 3), weighted, fractional):
        fast = sorted(
            (r["v"], r["rank"])
            for r in P.pagerank(g, max_iters=5).collect()
        )
        monkeypatch.setattr(P, "_NP_RANK_LOOP", False)
        slow = sorted(
            (r["v"], r["rank"])
            for r in P.pagerank(g, max_iters=5).collect()
        )
        monkeypatch.undo()
        assert fast == slow
    fractional.edges.unpersist()


def test_pagerank_driver_route_jobs_do_not_grow_with_supersteps(spark):
    """The driver route runs every superstep in numpy: its Spark job count
    must not depend on max_iters, so a per-superstep job cannot return
    unnoticed."""
    import importlib

    from grappolo_spark.sources.fixtures import karate

    P = importlib.import_module("grappolo_spark.operators.pagerank")
    g = karate(spark)
    sc = spark.sparkContext

    def jobs(max_iters):
        group = f"pagerank-route-guard-{max_iters}"
        sc.setJobGroup(group, group)
        try:
            P.pagerank(g, max_iters=max_iters).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    jobs(1)  # first call materializes the fixture's cached edges
    few, many = jobs(2), jobs(12)
    assert few == many, (few, many)
    assert few > 0


def test_pagerank_driver_route_gate_checks_before_collecting(spark, monkeypatch):
    """The driver route's edge-row and dangling gates come from aggregates,
    so a graph that fails them never reaches the route's collects. Covers
    both base builds: the symmetrized one (the gate rides the id-stats
    job) and the explicit-vertex one (its own stats job)."""
    import importlib

    from grappolo_spark.sources.fixtures import karate

    P = importlib.import_module("grappolo_spark.operators.pagerank")
    g = karate(spark)
    verts = g.vertex_ids()
    with_isolated = Graph(
        edges=g.edges,
        vertices=verts.union(spark.createDataFrame([(99,)], "v long")),
    )
    cases = [
        (g, 2_000_000, True),
        (Graph(edges=g.edges, vertices=verts), 2_000_000, True),
        (with_isolated, 2_000_000, False),  # dangling vertex 99
        (g, 155, False),  # karate has 156 edge rows
        (Graph(edges=g.edges, vertices=verts), 155, False),
    ]
    local = P._local_ranks
    for gc, bound, routed in cases:
        calls = []

        def spy(*a, **kw):
            calls.append(1)
            return local(*a, **kw)

        monkeypatch.setattr(P, "_local_ranks", spy)
        monkeypatch.setattr(P, "_LOCAL_EDGE_ROWS_MAX", bound)
        fast = sorted(map(tuple, P.pagerank(gc, max_iters=4).collect()))
        monkeypatch.undo()
        assert bool(calls) == routed, (bound, routed)
        if routed:
            monkeypatch.setattr(P, "_NP_RANK_LOOP", False)
            slow = sorted(map(tuple, P.pagerank(gc, max_iters=4).collect()))
            monkeypatch.undo()
            assert fast == slow


def test_pagerank_rank_index_rejects_unknown_ids():
    import importlib

    import numpy as np

    P = importlib.import_module("grappolo_spark.operators.pagerank")
    ids = np.array([2, 5, 9], dtype=np.int64)
    assert P._rank_index(ids, np.array([9, 2, 5, 5]), "dst").tolist() == [
        2, 0, 1, 1,
    ]
    for bad in ([3], [10], [1]):
        with pytest.raises(ValueError, match="dst id"):
            P._rank_index(ids, np.array(bad, dtype=np.int64), "dst")


def test_multiphase_colored_big_edge_fallback_matches(spark, monkeypatch):
    """Above the probe bound the multiphase coloring gate must fall back
    to the distinct-count job and the kernel to its distributed state
    build — same results as the driver-held route (the sf>>0.1 regime)."""
    from grappolo_spark.operators import coloring as C
    from grappolo_spark.operators.multiphase import louvain
    from grappolo_spark.sources.fixtures import karate

    g = karate(spark)

    def run():
        r = louvain(
            g, max_phases=3, coloring=True, min_graph_size=5,
            num_colors_cap=8, coloring_algo="multihash",
        )
        return (
            r.modularity, r.num_clusters, r.phases, r.total_iterations,
            sorted((x["v"], x["comm"]) for x in r.assignment.collect()),
        )

    t_small = run()
    monkeypatch.setattr(C, "_SMALL_EDGES_MAX", 0)
    t_big = run()
    monkeypatch.undo()
    assert t_small == t_big


def test_colored_distributed_broadcast_layout_matches(spark, monkeypatch):
    """The mid-regime src-keyed broadcast class gather (state broadcast
    pre-enriched, zero per-class exchanges) must match the dst-shuffle
    layout of the distributed colored loop exactly."""
    from grappolo_spark.operators import coloring as C
    from grappolo_spark.sources.fixtures import grid3d, karate

    for g, nv in ((karate(spark), 34), (grid3d(spark, 3, 3, 3), 27)):
        monkeypatch.setattr(C, "_SMALL_STATE_MAX", 0)
        monkeypatch.setattr(C, "_SMALL_EDGES_MAX", 0)
        res_b = C.louvain_one_phase_colored(
            g, thresh=1e-6, max_iters=3, num_colors_cap=8,
            coloring_algo="multihash", nv_hint=nv,
        )
        t_b = _phase_tuple(res_b)
        monkeypatch.setattr(C, "_BCAST_STATE_MAX", 0)
        res_s = C.louvain_one_phase_colored(
            g, thresh=1e-6, max_iters=3, num_colors_cap=8,
            coloring_algo="multihash", nv_hint=nv,
        )
        monkeypatch.undo()
        assert t_b == _phase_tuple(res_s), nv


def test_deduped_graph_skips_pair_distinct(spark):
    """Canonical graphs carry deduped=True (edge rows unique by
    construction) and the pair-table re-dedup exchange is elided; a raw
    Graph(edges=...) stays conservative. Results are identical either
    way — distinct over unique rows is the identity."""
    from grappolo_spark.operators.coloring import (
        distance_one_coloring,
        multihash_coloring,
    )
    from grappolo_spark.operators.components import connected_components
    from grappolo_spark.operators.multiphase import coarsen
    from grappolo_spark.sources.fixtures import karate

    g = karate(spark)
    assert g.deduped and g.partition_by_src().deduped
    g_raw = Graph(edges=g.edges)
    assert not g_raw.deduped
    assign = g.vertex_ids().select("v", (F.col("v") % 4).alias("comm"))
    assert coarsen(g, assign).deduped

    for fn in (
        lambda x: connected_components(x, local_threshold=0),
        distance_one_coloring,
        multihash_coloring,
    ):
        got = sorted(map(tuple, fn(g).collect()))
        want = sorted(map(tuple, fn(g_raw).collect()))
        assert got == want, fn


def test_coarse_rebuild_keeps_deduped(spark, monkeypatch):
    """The coarse graph multiphase rebuilds over the lineage cut keeps
    coarsen()'s deduped flag: the cut does not change row multiplicity."""
    from grappolo_spark.operators import multiphase as M
    from grappolo_spark.sources.fixtures import karate

    seen = []
    kernel = M.louvain_one_phase

    class _Stop(Exception):
        pass

    def spy(g, **kw):
        seen.append(g.deduped)
        if len(seen) == 2:  # phase 2's input is the rebuilt coarse graph
            raise _Stop
        return kernel(g, **kw)

    monkeypatch.setattr(M, "louvain_one_phase", spy)
    with pytest.raises(_Stop):
        M.louvain(karate(spark), max_phases=3, local_threshold=0)
    assert seen == [True, True]


def test_coarsen_np_matches_spark_coarsen(spark):
    """The driver continuation's numpy coarsen yields coarsen()'s rows:
    summed cluster pairs plus a zero-weight placeholder self-loop for
    every cluster without an internal edge."""
    import numpy as np

    from grappolo_spark.operators.multiphase import _coarsen_np, coarsen
    from grappolo_spark.sources.fixtures import karate

    g = karate(spark)
    # pairs of consecutive ids: many clusters have no internal edge, so
    # they get a placeholder self-loop
    assign = g.vertex_ids().select(
        "v", F.floor(F.col("v") / 2).cast("long").alias("comm")
    )
    spark_rows = sorted(map(tuple, coarsen(g, assign).edges.collect()))

    a = assign.toPandas().sort_values("v")
    ids = a["v"].to_numpy(np.int64)
    comm = a["comm"].to_numpy(np.int64)
    e = g.edges.toPandas()
    e_si = np.searchsorted(ids, e["src"].to_numpy(np.int64))
    e_di = np.searchsorted(ids, e["dst"].to_numpy(np.int64))
    k = int(comm.max()) + 1
    ts, td, tw = _coarsen_np(
        comm, e_si, e_di, e["weight"].to_numpy(np.float64), k
    )
    assert sorted(zip(ts.tolist(), td.tolist(), tw.tolist())) == spark_rows
    assert int((tw != 0.0).sum()) < len(ts)  # placeholders exist


def test_local_tail_gate_counts_rows_like_normal_flow(spark, monkeypatch):
    """After a numpy colored phase, the driver continuation gates its local
    tail on the coarse row count, placeholders included, as the normal
    flow's use_local gate counts coarsen()'s rows. With local_threshold at
    the pair count, below the row count, both flows must send phase 2 to
    the distributed kernel and agree on the whole run."""
    from grappolo_spark.operators import coloring as C
    from grappolo_spark.operators import multiphase as M
    from grappolo_spark.sources.fixtures import grid2d

    g = grid2d(spark)  # 72 vertices; phase 1 leaves 28 clusters

    def run(local_threshold, captured=None):
        calls = []
        kernel, colored = M.louvain_one_phase, C.louvain_one_phase_colored

        def spy(*a, **kw):
            calls.append(kw.get("thresh"))
            return kernel(*a, **kw)

        def colored_spy(*a, **kw):
            res = colored(*a, **kw)
            if captured is not None and res.local_np is not None:
                captured.append(res.local_np)
            return res

        monkeypatch.setattr(M, "louvain_one_phase", spy)
        monkeypatch.setattr(C, "louvain_one_phase_colored", colored_spy)
        r = M.louvain(
            g, max_phases=4, coloring=True, min_graph_size=30,
            num_colors_cap=8, coloring_algo="multihash",
            local_threshold=local_threshold,
        )
        monkeypatch.setattr(M, "louvain_one_phase", kernel)
        monkeypatch.setattr(C, "louvain_one_phase_colored", colored)
        return len(calls), (
            r.modularity,
            r.num_clusters,
            r.phases,
            r.total_iterations,
            [
                (h["phase"], h["modularity"], h["clusters"], h["iterations"],
                 h.get("vertices"), h["colored"])
                for h in r.phase_history
            ],
            sorted((x["v"], x["comm"]) for x in r.assignment.collect()),
        )

    # phase 1's coarse table, sized from the numpy continuation's arrays
    captured = []
    run(2_000_000, captured)
    ids_np, comm_raw, e_si, e_di, e_w = captured[0]
    assign_np, k = M._renumber_np(ids_np, comm_raw)
    assert k <= 30  # phase 2 runs uncolored
    ts, _, tw = M._coarsen_np(assign_np, e_si, e_di, e_w, k)
    pairs = int((tw != 0.0).sum())
    assert pairs < len(ts)  # placeholders exist: the two counts differ

    calls_np, t_np = run(pairs)
    monkeypatch.setattr(C, "_NP_CLASS_SWEEP", False)
    calls_sp, t_sp = run(pairs)
    monkeypatch.undo()
    assert calls_np == calls_sp and calls_np >= 1, (calls_np, calls_sp)
    assert t_np == t_sp
