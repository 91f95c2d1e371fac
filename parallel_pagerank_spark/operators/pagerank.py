"""Power-iteration PageRank as DataFrame-level sparse gather-scatter.

Reference semantics: /root/reference/pagerank_mpi/pagerank_mpi.c:132-231
(Distributed_PageRank_csr) — init 1/N, per iteration dangling-mass
redistribution, p' = d*(contrib + S/N) + (1-d)/N, stop when L1 < tol checked
after the update. The MPI code materializes the FULL rank vector on every rank
per iteration (MPI_Allgatherv, pagerank_mpi.c:141-164) and re-scans ALL edges
on every rank (178-192); the Spark plan instead partitions both data and
compute: the SpMV is an equi-join (edges ⋈ ranks on src) followed by a
hash aggregation on dst with map-side partial aggregation — the same
partial/final split the MPI code does by hand with p_t1_local.

Physical layout (SURVEY.md §4.3):
- ``edges`` are weighted once with 1/out_degree, extended by one self-row
  ``(v, v, w=null)`` per vertex, hash-repartitioned by src (dst in
  broadcast mode) and persisted: iteration-invariant, shuffled exactly once.
- ``ranks`` carries an iteration-invariant ``dangling`` flag so the dangling
  sum (pagerank_mpi.c:166-174) never needs a join.
- ranks are read ONCE per superstep, by the gather join: it pulls each
  vertex's rank row onto its out-edges AND onto its self-row, so the
  single ``groupBy(dst)`` yields the whole next state — Σ rank·w plus old
  rank, teleport weight and dangling flag read off the self-row (the
  in-place update of pagerank_mpi.c:194-196 needs no second join against
  the ranks). A group without a self-row is an edge into a non-vertex and
  is dropped.
- ONE Spark action per superstep: a fused aggregate computing L1, max-error
  (pagerank_mpi.c:201-213) AND the next iteration's dangling sum.
- the loop itself is the keyed-state superstep driver
  (``SuperstepState.run`` in plans/iterate.py): each superstep's ranks are
  a lazy local checkpoint, hash-partitioned on id, so the SpMV join is
  zero-shuffle and lineage is cut every superstep with no extra job; the
  driver plans the loop's queries with adaptive execution off, so the
  fused action runs as one Spark job. With a checkpoint_dir, every
  ``checkpoint_interval`` supersteps and at convergence it also writes
  the durable parquet snapshot a run resumes from. Why AQE is off, and
  what a local checkpoint costs in fault tolerance, is documented there.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from ..config import PageRankConfig
from ..plans.checkpoint import SuperstepCheckpointer
from ..plans.iterate import SuperstepState
from ..session import adaptive_off, shuffle_partitions
from .components import _route_fast
from .graph import out_degrees, vertices_from_edges

# edge bound of the vectorized tier: the ``fast_path_edges`` default shared
# by CC, LSS, LPA, HITS, BFS, SSSP and SCC (the edge list is collected once)
_FAST_PATH_EDGES = 10_000_000


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id: long, rank: double)
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)
    # which execution path produced the result: "dataframe" (distributed
    # superstep loop — the 100 TB scale path) or "vectorized" (one Arrow
    # collect of the edges, then the whole loop in numpy on the driver)
    mode: str = "dataframe"


def _prepare_weighted_edges(
    edges: DataFrame,
    vertices: DataFrame,
    num_partitions: int,
    salt_buckets: int,
    partition_key: str = "src",
    weight_col: str | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """edges ⋈ out_deg once (iteration-invariant — pagerank_mpi.c:179 computes
    row_ptr[j+1]-row_ptr[j] per edge per iteration; we fold it into a
    precomputed weight column w = 1/out_deg).

    With ``weight_col`` set (WEIGHTED PageRank — extension beyond the
    reference's uniform 1/out_deg split), each edge carries
    w = weight / Σ weights(src): rank flows proportionally to edge weight.
    Weights must be positive; a duplicated unweighted edge is exactly
    equivalent to one edge of weight 2 (multi-edge semantics preserved).

    Hub-skew salting (north rule; the reference's contiguous ranges make
    hub skew WORSE — SURVEY.md §4.1): with salt_buckets = s > 0, vertices
    whose out-degree exceeds ~(E / num_partitions) get their edge sets
    split across s salt values; the per-iteration join key becomes
    (src, salt) so one hub no longer pins a whole partition. The ranks side
    is replicated s× for hub ids only (a small broadcast-joined dimension).

    Every vertex also gets one self-row ``(v, v, w=null, salt=0)``: in the
    superstep it picks up the vertex's own rank row, which is how the one
    gather aggregation carries the old state into the new one. Real edges
    always have a non-null w, so ``w IS NULL`` marks the self-row.
    Returns (weighted edges with salt column, hub-id DataFrame or None).
    """
    aggs = [F.count("*").alias("out_deg")]
    if weight_col is not None:
        # weights must be strictly positive and non-null: a zero/negative
        # weight (or a src whose weights sum to 0) would yield null or
        # negative w = weight/wsum, and null contributions are silently
        # dropped by the SpMV sum — rank mass lost with no signal. One
        # cheap column scan, mirroring the teleport-weight validation.
        wrow = edges.agg(
            F.min(weight_col).alias("wmin"),
            F.sum(F.col(weight_col).isNull().cast("long")).alias("nnull"),
        ).first()
        if (wrow["nnull"] or 0) > 0 or (
            wrow["wmin"] is not None and wrow["wmin"] <= 0
        ):
            raise ValueError(
                f"pagerank weight_col={weight_col!r} must be strictly "
                f"positive and non-null (found min={wrow['wmin']}, "
                f"nulls={wrow['nnull']})"
            )
        aggs.append(F.sum(weight_col).alias("wsum"))
    deg = edges.groupBy(F.col("src").alias("id")).agg(*aggs)
    w = edges.join(
        deg.withColumnRenamed("id", "src"), on="src", how="inner"
    )
    w_expr = (
        (F.lit(1.0) / F.col("out_deg"))
        if weight_col is None
        else (F.col(weight_col).cast("double") / F.col("wsum"))
    )
    self_rows = vertices.select(
        F.col("id").alias("src"),
        F.col("id").alias("dst"),
        F.lit(None).cast("double").alias("w"),
        F.lit(0).alias("salt"),
    )
    if salt_buckets <= 1:
        return (
            w.select(
                "src",
                "dst",
                w_expr.alias("w"),
                F.lit(0).alias("salt"),
            )
            .unionByName(self_rows)
            .repartition(num_partitions, partition_key),
            None,
        )
    total = edges.count()
    hub_threshold = max(32, total // num_partitions)
    hubs = deg.filter(F.col("out_deg") > hub_threshold).select("id")
    salted = w.select(
        "src",
        "dst",
        w_expr.alias("w"),
        F.when(
            F.col("out_deg") > hub_threshold,
            F.pmod(F.xxhash64("dst"), F.lit(salt_buckets)).cast("int"),
        )
        .otherwise(F.lit(0))
        .alias("salt"),
    )
    return (
        salted.unionByName(self_rows).repartition(
            num_partitions, "src", "salt"
        ),
        hubs,
    )


def pagerank(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    config: PageRankConfig | None = None,
    resume: bool = False,
    teleport: DataFrame | None = None,
    weight_col: str | None = None,
    init_ranks: DataFrame | None = None,
) -> PageRankResult:
    """Run PageRank over ``edges(src, dst)``.

    weight_col: optional positive edge-weight column → WEIGHTED PageRank:
    rank flows from src proportionally to weight/Σweights(src) instead of
    uniformly 1/out_deg. A vertex is dangling iff it has no out-edges.

    vertices: optional explicit ``(id)`` DataFrame. Default reproduces the
    reference's dense-id rule (csr_graph.c:27): ids 0..max_id all exist.
    resume: continue from the latest durable checkpoint under
    ``config.checkpoint_dir`` if one exists.
    teleport: optional ``(id, weight)`` DataFrame → PERSONALIZED PageRank:
    p' = d·(contrib + S·v) + (1−d)·v with v the normalized weight vector.
    The reference declares exactly this per-vertex teleport field
    (``Node.e``, pagerank_mpi.h:13, initialized to 1/N at
    pagerank_mpi.c:51) but never uses it after init — this implements the
    declared intent; ``teleport=None`` is the reference's uniform v=1/N
    behavior. Vertices absent from ``teleport`` get weight 0.
    init_ranks: optional ``(id, rank)`` DataFrame to WARM-START from —
    e.g. the previous snapshot's converged ranks after an incremental
    edge batch. The vector is L1-normalized to 1 (power iteration is
    mass-conserving, so any positive total is a valid start); vertices
    absent from it start at 0 and regain mass through teleport. The
    fixpoint is start-independent (the chain is ergodic for d < 1), so
    a warm start changes ONLY the iteration count — on slowly-drifting
    graphs typically a handful of supersteps instead of ~57, which at
    100 TB is the difference between minutes and an hour.
    """
    cfg = config or PageRankConfig()
    # vectorized tier for graphs that fit the driver: below that size the
    # superstep loop is pure scheduling overhead (~0.3-0.5 s/iteration
    # regardless of data). The Python checks come first, so a call that
    # needs the distributed machinery (explicit vertices, a forced SpMV
    # mode, teleport, weights, warm start, checkpoint/resume, salting) runs
    # no routing job; the rest pay one aggregation, the route every
    # vectorized operator shares.
    if (
        vertices is None
        and cfg.spmv_mode == "auto"
        and cfg.fast_path_threshold > 0
        and teleport is None
        and weight_col is None
        and init_ranks is None
        and not resume
        and cfg.checkpoint_dir is None
        and cfg.salt_buckets == 0
    ):
        n_fast = _route_fast(edges, None, _FAST_PATH_EDGES)
        if n_fast is not None and n_fast <= cfg.fast_path_threshold:
            from .pagerank_fast import _pagerank_numpy

            return _pagerank_numpy(edges, n_fast, cfg)

    spark = edges.sparkSession
    num_parts = shuffle_partitions(spark)
    d = cfg.damping

    if vertices is None:
        vertices = vertices_from_edges(edges)
    n = vertices.count()
    if n == 0:
        empty = spark.createDataFrame([], "id long, rank double")
        return PageRankResult(empty, 0, True, [])

    use_broadcast = cfg.spmv_mode == "broadcast" or (
        cfg.spmv_mode == "auto" and n <= cfg.broadcast_threshold
    )
    edges_w, hubs = _prepare_weighted_edges(
        edges,
        vertices,
        num_parts,
        0 if use_broadcast else cfg.salt_buckets,
        partition_key="dst" if use_broadcast else "src",
        weight_col=weight_col,
    )
    # planned like the loop that reads them (plans/iterate.py): on a
    # 20k-edge graph, persisting and counting the edge table ran 6 jobs
    # with AQE on and 2 with it off
    with adaptive_off(spark):
        edges_w = edges_w.persist(StorageLevel.MEMORY_AND_DISK)
        edges_w.count()  # materialize once
        if hubs is not None:
            hubs = hubs.withColumn("is_hub", F.lit(True)).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            hubs.count()

    state = SuperstepState(
        num_parts,
        "id",
        checkpointer=SuperstepCheckpointer(cfg.checkpoint_dir, "pagerank"),
        checkpoint_interval=cfg.checkpoint_interval,
    )

    def init() -> DataFrame:
        # init p = 1/N (pagerank_mpi.c:44-54); dangling flag = no out-edges
        # (pagerank_mpi.c:169) — iteration-invariant, carried on the rank row.
        deg = out_degrees(edges)
        if teleport is not None:
            total_w = teleport.agg(F.sum("weight").alias("s")).first()["s"]
            if not total_w or total_w <= 0:
                raise ValueError("teleport weights must sum to > 0")
            tele = teleport.select(
                "id", (F.col("weight") / total_w).alias("tele")
            )
            base = vertices.join(tele, "id", "left").select(
                "id", F.coalesce("tele", F.lit(0.0)).alias("tele")
            )
        else:
            base = vertices.select(
                "id", F.lit(1.0 / n).alias("tele")
            )
        if init_ranks is not None:
            total_r = init_ranks.agg(F.sum("rank").alias("s")).first()["s"]
            if not total_r or total_r <= 0:
                raise ValueError("init_ranks must sum to > 0")
            warm = init_ranks.select(
                "id", (F.col("rank") / F.lit(float(total_r))).alias("warm")
            )
            base = base.join(warm, "id", "left")
            init_col = F.coalesce("warm", F.lit(0.0)).alias("rank")
        else:
            init_col = F.col("tele").alias("rank")  # init p = v (uniform:
            # 1/N, pagerank_mpi.c:44-54)
        return base.join(deg, on="id", how="left").select(
            "id",
            init_col,
            F.col("out_deg").isNull().alias("dangling"),
            F.col("tele"),
        )

    # the dangling mass S of the current ranks: measured on the starting
    # state, then carried by every superstep's fused action
    dangling_sum = None

    def step(ranks: DataFrame):
        nonlocal dangling_sum
        if dangling_sum is None:
            dangling_sum = (
                ranks.agg(
                    F.sum(F.when(F.col("dangling"), F.col("rank"))).alias("s")
                ).first()["s"]
                or 0.0
            )
        # SpMV gather (pagerank_mpi.c:176-192): join pulls rank[src] to each
        # edge; hash-agg on dst scatter-sums the contributions with map-side
        # partial aggregation. Both sides are pre-partitioned on their join
        # key (edges hash(src,P) persisted, ranks hash(id,P) checkpointed) →
        # zero-shuffle join; shuffle_hash avoids SMJ sorts.
        if use_broadcast:
            # zero-shuffle superstep: edges are dst-partitioned and cached;
            # ranks broadcast into the gather join (streamed-side
            # partitioning is preserved, so the dst aggregation needs no
            # exchange)
            gather_side = F.broadcast(ranks)
        elif hubs is None:
            gather_side = ranks.hint("shuffle_hash")
        else:
            # replicate hub ranks across salt buckets (hubs is tiny →
            # broadcast); the (src, salt) join key splits each hub's edges
            # over salt_buckets partitions. Self-rows carry salt 0, so each
            # one meets exactly one replica.
            gather_side = (
                ranks.join(F.broadcast(hubs), "id", "left")
                .withColumn(
                    "rsalt",
                    F.explode(
                        F.when(
                            F.col("is_hub").isNotNull(),
                            F.sequence(
                                F.lit(0), F.lit(cfg.salt_buckets - 1)
                            ),
                        ).otherwise(F.array(F.lit(0)))
                    ),
                )
                .hint("shuffle_hash")
            )
        cond = edges_w.src == gather_side.id
        if hubs is not None:
            cond = cond & (edges_w.salt == gather_side.rsalt)

        def own(c: str):
            # the value on the vertex's own rank row, via its self-row
            return F.max(F.when(F.col("w").isNull(), F.col(c)))

        # update (pagerank_mpi.c:194-196) in the same aggregation; a group
        # without a self-row is an edge into a vertex outside ``vertices``
        new_ranks = (
            edges_w.join(gather_side, cond, "inner")
            .groupBy("dst")
            .agg(
                F.sum(F.col("rank") * F.col("w")).alias("contrib"),
                own("rank").alias("old_rank"),
                own("dangling").alias("dangling"),
                own("tele").alias("tele"),
            )
            .filter(F.col("old_rank").isNotNull())
            .select(
                F.col("dst").alias("id"),
                "dangling",
                "tele",
                "old_rank",
                (
                    d
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.lit(dangling_sum) * F.col("tele")
                    )
                    + F.lit(1.0 - d) * F.col("tele")
                ).alias("rank"),
            )
        )
        # ONE action: fused convergence metrics (pagerank_mpi.c:201-213,
        # D3+D4) + next iteration's dangling sum
        err = F.abs(F.col("rank") - F.col("old_rank"))
        return new_ranks, [
            F.sum(err).alias("l1"),
            F.max(err).alias("max_err"),
            F.sum(F.when(F.col("dangling"), F.col("rank"))).alias("s"),
        ]

    def observe(it: int, row):
        nonlocal dangling_sum
        l1 = float(row["l1"])
        dangling_sum = float(row["s"] or 0.0)
        # stop when L1 < threshold, checked after the update
        # (pagerank_mpi.c:220-226; L1 is the operative criterion)
        record = {"iteration": it, "l1": l1, "max_err": float(row["max_err"])}
        return record, l1 < cfg.tol

    ranks, it, converged, metrics = state.run(
        init, step, observe, cfg.max_iter, resume=resume
    )
    edges_w.unpersist()
    if hubs is not None:
        hubs.unpersist()
    return PageRankResult(
        ranks.select("id", "rank"), it, converged, metrics
    )


def top_k_ranks(result_ranks: DataFrame, k: int = 10) -> DataFrame:
    """Top-k vertices by rank (dashboard/app.py:400-404). Spark plans
    TakeOrderedAndProject — a true distributed top-k, no full sort."""
    return result_ranks.orderBy(F.desc("rank"), F.asc("id")).limit(k)
