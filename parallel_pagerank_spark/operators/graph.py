"""Core graph-model DataFrames: vertices, degrees, edge normalizations.

The reference keeps the graph as an in-memory CSR struct
(/root/reference/pagerank_mpi/csr_graph.h:15-20). The Spark-native form is a
flat ``edges(src: long, dst: long)`` DataFrame; duplicates are KEPT — the
reference counts every input line (csr_graph.c:19-23), so a multi-edge
contributes its multiplicity to out-degree and rank flow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


# vertices_from_edges sanity bound: the dense rule generates max_id+1 vertex
# rows, so a single hash-space id (xxhash64 lands anywhere in ±2^63) would
# silently ask for a ~10^18-row range. 2^48 ≈ 2.8·10^14 is far above any real
# dense id space yet catches every 64-bit-hash id.
_DENSE_MAX_ID = 1 << 48


def vertices_from_edges(edges: DataFrame) -> DataFrame:
    """Dense vertex set ``0..max_id`` (csr_graph.c:27: num_nodes = max_id+1).

    Ids that appear in no edge but are < max_id still exist and hold rank.
    Uses ``spark.range`` — generated, never materialized from the edge table.

    Guard: ids must look DENSE. Hash-space ids (e.g.
    ``derive_edges(..., id_mode="hash")`` → xxhash64 values near ±2^63)
    raise a ValueError instead of generating an astronomically large range
    (or overflowing the ANSI ``max_id+1``): pass ``id_mode="dense"`` at
    derivation, or give the operator an explicit ``vertices=`` DataFrame.
    """
    row = edges.agg(
        F.greatest(F.max("src"), F.max("dst")).alias("max_id"),
        F.least(F.min("src"), F.min("dst")).alias("min_id"),
    ).first()
    max_id = row["max_id"]
    # hash-magnitude ids on EITHER side of zero trip the guard; small
    # negative ids keep the documented dense-rule semantics (not a vertex,
    # edge dropped by the label/rank join — tests/test_graph_ops.py)
    if max_id is not None and (
        max_id > _DENSE_MAX_ID or row["min_id"] < -_DENSE_MAX_ID
    ):
        raise ValueError(
            "vertices_from_edges: edge ids span "
            f"[{row['min_id']}, {max_id}], which is not a dense "
            "0..max_id space (the default vertex rule would generate "
            "max_id+1 vertex rows). These look like hash ids — derive "
            'edges with id_mode="dense", or pass an explicit vertices= '
            "DataFrame to the operator."
        )
    n = (max_id + 1) if max_id is not None else 0
    return edges.sparkSession.range(n).withColumnRenamed("id", "id")


def out_degrees(edges: DataFrame) -> DataFrame:
    """``(id, out_deg)`` — CSR row length (pagerank_mpi.c:179). Vertices with
    no out-edges are absent (⇒ dangling, pagerank_mpi.c:169)."""
    return edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_deg")
    )


def in_degrees(edges: DataFrame) -> DataFrame:
    """``(id, in_deg)`` (dashboard/app.py:464)."""
    return edges.groupBy(F.col("dst").alias("id")).agg(
        F.count("*").alias("in_deg")
    )


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected view for CC / label propagation: both directions, self-loops
    dropped, duplicates removed. Distinct is required so LPA neighbor-label
    frequencies count each neighbor once."""
    fwd = edges.select("src", "dst")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.unionByName(rev).filter(F.col("src") != F.col("dst")).distinct()


def canonical_edges(edges: DataFrame) -> DataFrame:
    """Canonical undirected simple edges ``(u < v)`` — the triangle-count
    input (SURVEY.md §2 E5): orient low→high, dedupe, drop self-loops."""
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
    )


def canonical_degrees(canon: DataFrame) -> DataFrame:
    """``(id, deg)`` — the undirected simple degree of every vertex of a
    :func:`canonical_edges` table (vertices without an edge are absent)."""
    return (
        canon.select(F.col("u").alias("id"))
        .unionAll(canon.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )


def sample_subgraph(
    edges: DataFrame, frac: float, salt: int = 0
) -> DataFrame:
    """Vertex-induced deterministic subgraph sample.

    Keeps a vertex iff its portable split-hash bucket falls below
    ``frac * 2^32`` (functions/splits.split_bucket — bit-identical in
    Spark/DuckDB/numpy), and an edge iff BOTH endpoints are kept —
    vertex-induced sampling, the standard way to downscale a graph
    while preserving within-sample structure (every kept vertex keeps
    its full induced neighborhood, so degree/triangle/component
    statistics of the sample are unbiased conditional on the vertex
    set; plain edge sampling would thin every neighborhood instead).
    Expected edge retention is frac² for independent endpoints.

    Pure Column predicate — no shuffle, no join against a sampled
    vertex table; evaluated scan-side in the same stage as the read
    (the hash arithmetic is a computed expression, so it cannot enter
    the parquet PushedFilters — but it runs before any exchange, which
    is what matters); monotone in ``frac`` (a
    bigger sample is a superset); ``salt`` re-deals the sample. The
    100 TB use case: iterate an algorithm change on a 1% induced slice
    with exactly reproducible membership, then remove the filter.
    """
    from ..functions.splits import split_bucket

    if not 0.0 <= frac <= 1.0:
        raise ValueError(f"frac must be in [0, 1], got {frac}")
    bound = F.lit(int(frac * 4_294_967_296))
    return edges.filter(
        (split_bucket(F.col("src"), salt=salt) < bound)
        & (split_bucket(F.col("dst"), salt=salt) < bound)
    )


def sample_neighbors_k(
    edges: DataFrame, k: int, salt: int = 0
) -> DataFrame:
    """Deterministic per-vertex neighbor sampling: for every source
    vertex keep at most ``k`` out-edges, chosen by the portable hash of
    the packed edge key — the GraphSAGE-style fan-out cap (Hamilton et
    al., NIPS 2017) that turns hub-skewed adjacency into bounded
    mini-batch neighborhoods for GNN feature pipelines.

    The choice is a pure function of (src, dst, salt): stable across
    runs, engines, and partitionings (same contract as
    :func:`sample_subgraph`), prefix-consistent in ``k`` (the k+1
    sample is the k sample plus one edge), re-dealt by ``salt``.
    Requires ids < 2^31 for the packed key (the matching/MIS oracle
    bound); duplicate (src, dst) rows are deduped first — multiplicity
    is not a sampling weight.

    Scale shape: one shuffle keyed on src + a per-src (bucket, dst)
    row_number window — exactly the hub-cap pattern of
    linkanalysis.adamic_adar; the output degree is <= k everywhere, so
    EVERY downstream join or aggregation is skew-proof by
    construction."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    from pyspark.sql import Window

    from ..functions.splits import split_bucket

    bucket = split_bucket(
        F.col("src") * F.lit(2_147_483_648) + F.col("dst"), salt=salt
    )
    w = Window.partitionBy("src").orderBy("__b", "dst")
    return (
        edges.select("src", "dst")
        .distinct()
        .withColumn("__b", bucket)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__b", "__rn")
    )
