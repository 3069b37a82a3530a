"""PageRank as iterative join/groupBy supersteps.

Not present in the reference (Grappolo is a Louvain library); required by
the north_rule alongside it. Semantics (fixed so the DuckDB oracle can be
generated mechanically):

- ``rank_0(v) = 1/N`` over the graph's vertex set (isolated vertices incl.)
- contribution of v along edge (v,u): ``alpha * rank(v) * w(v,u) / wout(v)``
  (weighted out-degree; equals uniform split on unweighted graphs)
- dangling vertices (wout = 0) redistribute ``alpha * rank / N`` uniformly
- ``rank_{t+1}(u) = (1-alpha)/N + alpha * (in_contrib + dangling_mass/N)``

Ranks sum to 1 every iteration. With ``tol=None`` runs exactly
``max_iters`` supersteps (deterministic — used by the correctness oracle);
with ``tol`` set stops when L1 delta < tol.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grappolo_spark.graph import Graph
from grappolo_spark.plans.iteration import (
    SuperstepRunner,
    cut_lineage,
    promote_result,
)

# edge-row bound of the collect-once driver route: the same default as the
# local_threshold of connected_components and label_propagation
_LOCAL_EDGE_ROWS_MAX = 2_000_000

# test hook: force the committed-state distributed loop even when the
# collect-once driver route would apply
_NP_RANK_LOOP = True


def _rank_index(ids, keys, what: str):
    """Positions of ``keys`` in the sorted, non-empty id array ``ids``.
    Raises when a key is not in ``ids``: a silent misindex would corrupt
    the ranks."""
    import numpy as np

    idx = np.minimum(np.searchsorted(ids, keys), len(ids) - 1)
    bad = ids[idx] != keys
    if bool(bad.any()):
        raise ValueError(
            f"pagerank: {int(bad.sum())} {what} id(s) are not in the "
            f"vertex set (first: {int(keys[bad][0])})"
        )
    return idx


def _local_ranks(spark, base, edges, n, alpha, max_iters, unweighted):
    """Run every superstep on the driver over one Arrow collect of the
    dst-partitioned ``edges`` cache. The caller has checked that the graph
    has no dangling vertex and at most ``_LOCAL_EDGE_ROWS_MAX`` edge rows."""
    import numpy as np
    import pandas as pd

    bp = base.select("v", "wout").toPandas()
    wout_b = bp["wout"].to_numpy(np.float64)
    ids, base_i = np.unique(bp["v"].to_numpy(np.int64), return_inverse=True)
    if len(ids) != len(base_i) or len(ids) != n:
        raise ValueError(
            f"pagerank: {len(base_i)} base rows over {len(ids)} distinct "
            f"ids, expected {n} distinct vertices"
        )
    wout = np.empty(n, dtype=np.float64)
    wout[base_i] = wout_b

    ep = edges.toPandas()
    src_i = _rank_index(ids, ep["src"].to_numpy(np.int64), "edge src")
    dst_i = _rank_index(ids, ep["dst"].to_numpy(np.int64), "edge dst")
    wout_src = wout[src_i]
    w = None if unweighted else ep["weight"].to_numpy(np.float64)
    del ep
    rank = np.full(n, 1.0 / n, dtype=np.float64)
    for _ in range(max_iters):
        c = rank[src_i] / wout_src if unweighted else rank[src_i] * w / wout_src
        in_c = np.bincount(dst_i, weights=c, minlength=n)
        # the loop's "+ dangling / n" term adds 0.0 here, an exact no-op
        # on these non-negative sums
        rank = (1.0 - alpha) / n + alpha * in_c
    return spark.createDataFrame(
        pd.DataFrame({"v": ids, "rank": rank}), "v long, rank double"
    )


def pagerank(
    g: Graph,
    alpha: float = 0.85,
    max_iters: int = 20,
    tol: float | None = None,
    lineage_cut_every: int = 3,
    broadcast_ranks: bool | None = None,
    broadcast_max_vertices: int = 5_000_000,
    ids32: bool | None = None,
    run_dir: str | None = None,
) -> DataFrame:
    """Return ``(v, rank)``. Deterministic given (graph, alpha, max_iters).

    ``broadcast_ranks`` picks the physical strategy for the per-superstep
    ``edges JOIN ranks``:

    - **True** (auto when |V| <= ``broadcast_max_vertices``): the rank
      table broadcasts, the edge table is hash-partitioned by ``dst``
      once, and the contribution groupBy(dst) reuses that layout — the
      superstep moves ZERO edge rows over the network/shuffle disk.
      Below ``_LOCAL_EDGE_ROWS_MAX`` edge rows a dangling-free graph
      (``tol``/``run_dir``/``ids32`` unset) collects that dst-partitioned
      table once instead and runs every superstep on the driver in numpy,
      with bit-identical ranks.
    - **False** (auto beyond the threshold — a billion-vertex rank table
      must not be broadcast): the shuffle-join plan, edges co-partitioned
      on the join key once and reused.

    ``ids32`` (default OFF, explicit opt-in): the louvain int32 hot-chain
    treatment applied here — edge cache and in-loop rank state carry
    32-bit ids (bound verified via min/max riding the |V| action), the
    returned ``(v, rank)`` cast back to long. Unlike louvain (measured
    1.2-1.3x), pagerank showed NO consistent win on the sandbox:
    alternated 32-core pairs at 33.5M edges split +1.49x/+1.28x/-1.10x
    after fixing the build-side partitioning, and the long plan's best
    runs (18.1-19.7s) beat the int plan's best (21.7s) — the superstep
    here is dominated by the per-iteration rank broadcast and the O(V)
    base⋈contribs sort-merge join, not the edge-cache scan that makes
    the louvain gather width-bound. Kept as an experiment flag; ranks
    may differ from the long plan at the ~1e-15 summation-order level.
    The shuffle path (bucketed long state cuts) never narrows.
    """
    spark = g.edges.sparkSession
    # m (out-edge rows per vertex) sizes the driver route's edge collect
    # without a probe job
    wout = g.edges.groupBy(F.col("src").alias("v")).agg(
        F.sum("weight").alias("wout"), F.count(F.lit(1)).alias("m")
    )
    # a symmetrized table with no explicit vertices lists every vertex as
    # src, so the wout aggregation's key set IS the vertex set: base = wout
    # directly, persisted first so the id-stats agg rides the cache
    # materialization — removes the two-scan union + distinct + O(V) left
    # join the generic path pays (guide §2.4: drop redundant exchanges)
    sym_complete = not g.directed and g.vertices is None
    if sym_complete:
        base = wout.persist()
        vstats_src = base
    else:
        verts = g.vertex_ids()
        vstats_src = verts
    # the driver route's gate over base: edge rows and dangling vertices.
    # When base is the id-stats source it rides that job.
    route_stats = [
        F.sum("m").alias("m"),
        F.count(F.when(F.col("wout") == 0.0, True)).alias("dangling"),
    ]
    vstats = vstats_src.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("v").alias("min_id"),
        F.max("v").alias("max_id"),
        *(route_stats if sym_complete else []),
    ).collect()[0]
    n = vstats["n"]
    if n == 0:
        if sym_complete:
            base.unpersist()
        return spark.createDataFrame([], "v long, rank double")
    if broadcast_ranks is None:
        broadcast_ranks = n <= broadcast_max_vertices
    if ids32 is None:
        ids32 = False  # measured neutral-to-slower here; see docstring
    min_id = vstats["min_id"] if vstats["min_id"] is not None else 0
    max_id = vstats["max_id"] if vstats["max_id"] is not None else 0
    ids32 = bool(
        ids32
        and broadcast_ranks
        and -(1 << 31) <= min_id
        and max_id < (1 << 31) - 1
    )

    if ids32:
        # cast BOTH build inputs before the join, not the join output: the
        # persisted base then carries hashpartitioning on the int v
        # attribute itself, which the per-superstep base⋈contribs join
        # reuses (contribs inherits the edge cache's int dst layout). A
        # post-join cast would make v a derived attribute, void the cached
        # partitioning, and re-exchange base every superstep — measured
        # 1.4x SLOWER than the long plan before this ordering fix.
        wout = wout.select(F.col("v").cast("int").alias("v"), "wout", "m")
        if sym_complete:
            # rare explicit-opt-in rebuild: the cast must sit below the
            # persist so the cache carries the int attribute
            base.unpersist()
            base = wout.persist()
    if not sym_complete:
        verts_b = (
            verts.select(F.col("v").cast("int").alias("v")) if ids32 else verts
        )
        base = verts_b.join(wout, "v", "left").select(
            "v",
            F.coalesce("wout", F.lit(0.0)).alias("wout"),
            F.coalesce("m", F.lit(0)).alias("m"),
        ).persist()
    # weight ≡ 1.0 invariant (Graph.unweighted): the superstep cache keeps
    # only (src, dst) — one third less cached/scanned width per superstep —
    # and the contribution skips the weight multiply (x·1.0 ≡ x, so the
    # ranks are bit-identical to the weighted plan on the same graph)
    unweighted = bool(getattr(g, "unweighted", False))
    e_cols = (
        [F.col("src").cast("int").alias("src"), F.col("dst").cast("int").alias("dst")]
        if ids32
        else [F.col("src"), F.col("dst")]
    )
    if not unweighted:
        e_cols.append(F.col("weight"))
    e_loop = g.edges.select(*e_cols) if (ids32 or unweighted) else g.edges
    if broadcast_ranks:
        # partition on the AGGREGATION key: with the join side broadcast,
        # groupBy(dst) then needs no exchange at all
        edges = e_loop.repartition("dst").persist()
    else:
        # persist as-is: callers co-locate via Graph.partition_by_src (the
        # join key; a projection preserves that partitioning), and an
        # already-partitioned cache is reused shuffle-free
        edges = e_loop.persist()

    # collect-once driver route (same pattern as the CC and LPA local
    # paths): the dst-partitioned edge cache comes to the driver ONCE and
    # every superstep's gather is one np.bincount — no Spark job per
    # superstep. Ranks are bit-identical to the broadcast loop below (pinned
    # by test_pagerank_driver_ranks_matches): every dst row lives in one
    # partition of the cache, the loop's exchange-free sum folds those rows
    # from 0.0 in scan order, the collect keeps partition order so bincount
    # folds them from 0.0 in the same order, and the contribution and the
    # rank update are the same IEEE expressions. Both routes read the one
    # cache defined above. Excluded: dangling graphs (their rank-mass
    # reduction would move a float sum across the boundary), tol (delta is
    # a distributed agg), run_dir (resume state must stay durable), ids32,
    # and graphs above _LOCAL_EDGE_ROWS_MAX edge rows. Both gates are
    # checked before anything is collected. A dangling-free graph lists
    # every vertex as src, so n <= edge rows: the n gate is implied by the
    # edge bound and spares the generic path its stats job on big graphs.
    if (
        _NP_RANK_LOOP
        and broadcast_ranks
        and not ids32
        and run_dir is None
        and tol is None
        and n <= _LOCAL_EDGE_ROWS_MAX
    ):
        rs = vstats if sym_complete else base.agg(*route_stats).collect()[0]
        if rs["dangling"] == 0 and rs["m"] <= _LOCAL_EDGE_ROWS_MAX:
            out = _local_ranks(
                spark, base, edges, n, alpha, max_iters, unweighted
            )
            base.unpersist()
            edges.unpersist()
            return out

    # shuffle config (rank table too big to broadcast): commit the rank
    # state BUCKETED by v so the per-superstep edges(src)⋈ranks(v) join
    # reads the O(V) side pre-partitioned — one exchange at the commit
    # write replaces one per superstep (see cut_lineage's bucket_by)
    runner = SuperstepRunner(
        spark, run_dir,
        bucket_by=None if broadcast_ranks else "v",
        n_buckets=int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    start, resumed = runner.resume()
    if resumed is not None:
        ranks = resumed
    else:
        ranks = base.select("v", F.lit(1.0 / n).alias("rank"), "wout")
        start = 0
    ranks = cut_lineage(
        ranks, tag="pagerank",
        bucket_by=runner.bucket_by, n_buckets=runner.n_buckets,
    )

    # symmetrized graphs have no dangling vertices: check once, not per
    # superstep (saves one Spark job per iteration)
    has_dangling = base.filter(F.col("wout") == 0.0).limit(1).count() > 0

    for step in range(start, max_iters):
        dangling = 0.0
        if has_dangling:
            dangling = (
                ranks.filter(F.col("wout") == 0.0).agg(F.sum("rank")).collect()[0][0]
                or 0.0
            )
        rank_side = F.broadcast(ranks) if broadcast_ranks else ranks
        contrib_c = (
            (F.col("rank") / F.col("wout"))
            if unweighted
            else (F.col("rank") * F.col("weight") / F.col("wout"))
        )
        contribs = (
            edges.join(rank_side, edges.src == ranks.v)
            .select(F.col("dst").alias("v"), contrib_c.alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("in_contrib"))
        )
        new = base.join(contribs, "v", "left").select(
            "v",
            (
                F.lit((1.0 - alpha) / n)
                + F.lit(alpha)
                * (F.coalesce("in_contrib", F.lit(0.0)) + F.lit(dangling / n))
            ).alias("rank"),
            "wout",
        )
        if tol is not None:
            delta = (
                new.alias("n")
                .join(ranks.alias("o"), "v")
                .agg(F.sum(F.abs(F.col("n.rank") - F.col("o.rank"))))
                .collect()[0][0]
            )
        # chaining a few supersteps before each cut is safe (the plan is a
        # linear chain) and amortizes the per-superstep state write
        if (
            run_dir is not None  # per-superstep durable state for resume
            or lineage_cut_every <= 1
            or (step + 1) % lineage_cut_every == 0
            or step == max_iters - 1
            or tol is not None
        ):
            ranks = runner.commit(step, new, {"op": "pagerank", "alpha": alpha})
        else:
            ranks = new
        if tol is not None and delta < tol:
            break

    # every loop path ends on a committed (rotation-backed) ranks table —
    # the commit condition includes step == max_iters - 1 — so this is a
    # rename, not a re-write; a durable run_dir commit passes through and
    # stays backed by its own run directory. fallback_cut=True matches the
    # other kernels: if a future refactor (or max_iters=0 with an uncut
    # init) hands a derived plan here, it degrades to an explicit result
    # cut instead of a rotation-lifetime FAILED_READ_FILE.
    out = promote_result(ranks, fallback_cut=True).select(
        F.col("v").cast("long").alias("v"), "rank"
    )
    base.unpersist()
    edges.unpersist()
    return out
