"""Descriptive graph statistics (SURVEY.md §2 D5–D12, G1, G2).

The reference computes these in the Streamlit dashboard with networkx
(dashboard/app.py:455-501, 1732-1748); here they are engine methods so the
capability survives without the UI. All pure built-in aggregations — one
scan for the scalar stats, degree aggs for the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .graph import canonical_degrees, canonical_edges
from .graph import in_degrees, out_degrees, vertices_from_edges


def graph_summary(
    edges: DataFrame, vertices: DataFrame | None = None
) -> DataFrame:
    """One-row summary: nodes, edges, density E/(N·(N−1))
    (dashboard/app.py:461), mean degree.

    Without an explicit ``vertices`` DF, N follows the reference's dense-id
    rule max_id+1 (csr_graph.c:27) — only meaningful for dense id spaces;
    hash-id graphs (xxhash64 vertex ids near 2^63) MUST pass ``vertices``,
    and density math is done in double space to avoid long overflow (ANSI
    mode throws on it)."""
    if vertices is not None:
        n = vertices.count()
        agg = edges.agg(F.count("*").alias("num_edges")).select(
            F.lit(n).alias("num_nodes"), "num_edges"
        )
    else:
        agg = edges.agg(
            (F.greatest(F.max("src"), F.max("dst")) + 1).alias("num_nodes"),
            F.count("*").alias("num_edges"),
        )
    nd = F.col("num_nodes").cast("double")
    return agg.select(
        "num_nodes",
        "num_edges",
        (F.col("num_edges") / (nd * (nd - F.lit(1.0)))).alias("density"),
        (F.col("num_edges") / nd).alias("mean_out_degree"),
    )


def degree_table(edges: DataFrame, vertices: DataFrame | None = None) -> DataFrame:
    """``(id, out_deg, in_deg)`` densified over the vertex set (absent ⇒ 0)."""
    if vertices is None:
        vertices = vertices_from_edges(edges)
    return (
        vertices.join(out_degrees(edges), "id", "left")
        .join(in_degrees(edges), "id", "left")
        .select(
            "id",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
    )


def dangling_vertices(edges: DataFrame, vertices: DataFrame | None = None) -> DataFrame:
    """Vertices with no out-edges (pagerank_mpi.c:169 predicate)."""
    if vertices is None:
        vertices = vertices_from_edges(edges)
    return vertices.join(
        out_degrees(edges), "id", "left_anti"
    )


def isolated_vertices(
    edges: DataFrame, vertices: DataFrame | None = None
) -> DataFrame:
    """Vertices with degree 0 in both directions (dashboard/app.py:469-471)
    as a DataFrame — two anti-joins, no collect."""
    if vertices is None:
        vertices = vertices_from_edges(edges)
    return vertices.join(out_degrees(edges), "id", "left_anti").join(
        in_degrees(edges), "id", "left_anti"
    )


def isolated_count(edges: DataFrame, vertices: DataFrame | None = None) -> int:
    """Degree-0 in both directions (dashboard/app.py:469-471)."""
    return isolated_vertices(edges, vertices).count()


def degree_histogram(edges: DataFrame, direction: str = "out") -> DataFrame:
    """``(degree, num_vertices)`` distribution over vertices WITH that degree
    (rank-histogram analog of dashboard/app.py:425-433)."""
    deg = out_degrees(edges) if direction == "out" else in_degrees(edges)
    col = "out_deg" if direction == "out" else "in_deg"
    return (
        deg.groupBy(F.col(col).alias("degree"))
        .agg(F.count("*").alias("num_vertices"))
    )


def scale_free_heuristic(edges: DataFrame) -> DataFrame:
    """The dashboard's hub heuristic (dashboard/app.py:481-489): max degree,
    count of vertices with degree > max/2, vs 3× the average."""
    deg = out_degrees(edges)
    stats = deg.agg(
        F.max("out_deg").alias("max_deg"),
        F.avg("out_deg").alias("avg_deg"),
    )
    return (
        deg.crossJoin(F.broadcast(stats))
        .agg(
            F.first("max_deg").alias("max_degree"),
            F.first("avg_deg").alias("avg_degree"),
            F.sum(
                (F.col("out_deg") > F.col("max_deg") / 2).cast("long")
            ).alias("near_max_hubs"),
        )
        .select(
            "max_degree",
            "avg_degree",
            "near_max_hubs",
            (F.col("max_degree") > F.col("avg_degree") * 3).alias(
                "looks_scale_free"
            ),
        )
    )


def adjacency_lists(edges: DataFrame) -> DataFrame:
    """``(src, neighbors: array<long> sorted)`` — the DataFrame-level CSR row
    (dashboard/app.py:1744-1748 sorted adjacency display)."""
    return (
        edges.groupBy("src")
        .agg(F.sort_array(F.collect_list("dst")).alias("neighbors"))
        .orderBy("src")
    )


def rank_histogram(
    ranks: DataFrame, bins: int = 30, rank_col: str = "rank"
) -> DataFrame:
    """``(bin, lo, hi, num_vertices)`` — fixed-width histogram of the rank
    distribution (dashboard/app.py:425-433 / visualize_pagerank.py:169-204
    matplotlib hist analog, as data not pixels). One pass for min/max, one
    aggregation pass; top edge inclusive like numpy.histogram."""
    row = ranks.agg(
        F.min(rank_col).alias("lo"), F.max(rank_col).alias("hi")
    ).first()
    lo, hi = float(row["lo"]), float(row["hi"])
    width = (hi - lo) / bins if hi > lo else 1.0
    bin_col = F.least(
        F.floor((F.col(rank_col) - F.lit(lo)) / F.lit(width)).cast("int"),
        F.lit(bins - 1),
    )
    return (
        ranks.select(bin_col.alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("num_vertices"))
        .select(
            "bin",
            (F.lit(lo) + F.col("bin") * F.lit(width)).alias("lo"),
            (F.lit(lo) + (F.col("bin") + 1) * F.lit(width)).alias("hi"),
            "num_vertices",
        )
        .orderBy("bin")
    )


def reciprocity(edges: DataFrame) -> DataFrame:
    """One-row ``(n_edges, n_reciprocal, reciprocity)``: the fraction of
    distinct directed edges whose reverse edge also exists (networkx
    ``overall_reciprocity`` semantics — self-loops are their own reverse
    and count as reciprocal; multi-edges collapse first).

    Scale shape: dedup is one shuffle on (src, dst); the reverse-edge
    probe is a self left-semi join on the same pair key, so with the
    dedup output re-keyed the probe co-partitions — no per-vertex
    neighborhood arrays, no driver state."""
    d = edges.select("src", "dst").distinct()
    rev = d.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = d.join(rev, ["src", "dst"], "left_semi")
    return (
        d.agg(F.count("*").alias("n_edges"))
        .crossJoin(
            F.broadcast(recip.agg(F.count("*").alias("n_reciprocal")))
        )
        .select(
            "n_edges",
            "n_reciprocal",
            (
                F.col("n_reciprocal")
                / F.col("n_edges").cast("double")
            ).alias("reciprocity"),
        )
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """One-row out-in degree assortativity: the Pearson correlation of
    (out-degree of src, in-degree of dst) sampled once per directed edge
    (multi-edges kept — each edge is one sample), the x='out', y='in'
    variant of networkx ``degree_assortativity_coefficient``.

    Scale shape: two degree aggregations (|V|-row tables) joined back
    onto the edge list on its natural keys, then one ``corr`` aggregate —
    the edge table is never self-joined and never reshuffled twice on
    the same key. Single-edge graphs (zero variance) yield NULL, like
    SQL corr."""
    od = out_degrees(edges).withColumnRenamed("id", "src")
    ind = in_degrees(edges).withColumnRenamed("id", "dst")
    return (
        edges.select("src", "dst")
        .join(od, "src")
        .join(ind, "dst")
        .agg(
            F.count("*").alias("n_edges"),
            F.corr(
                F.col("out_deg").cast("double"),
                F.col("in_deg").cast("double"),
            ).alias("assortativity"),
        )
        .select("n_edges", "assortativity")
    )


def component_size_distribution(components: DataFrame) -> DataFrame:
    """``(size, n_components)`` over a per-vertex labeling ``(id,
    component)`` (operators/components.py output): how many components
    have each size — the standard giant-component diagnostic.

    Two aggregations: one shuffle on the component label (map-side
    partial counts), then one on the |components|-row size table."""
    return (
        components.groupBy("component")
        .agg(F.count("*").alias("size"))
        .groupBy("size")
        .agg(F.count("*").alias("n_components"))
    )


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """``(id, triangles, degree, coefficient)`` — local clustering
    coefficient over the undirected simple graph: triangles /
    (deg·(deg−1)/2). Degree-oriented triangle corners joined against
    canonical degrees; vertices with degree < 2 get coefficient 0."""
    from .triangles import per_vertex_triangle_counts

    deg = canonical_degrees(canonical_edges(edges)).withColumnRenamed(
        "deg", "degree"
    )
    tri = per_vertex_triangle_counts(edges)
    possible = F.col("degree") * (F.col("degree") - 1) / 2.0
    return (
        deg.join(tri, "id", "left")
        .select(
            "id",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            "degree",
            F.when(
                F.col("degree") >= 2,
                F.coalesce("triangles", F.lit(0)) / possible,
            )
            .otherwise(F.lit(0.0))
            .alias("coefficient"),
        )
    )


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity (Newman & Girvan 2004, Phys. Rev. E 69, eq. 5)
    of a vertex labeling over the UNDIRECTED simple graph beneath
    ``edges``: Q = Σ_c (e_c/m − (deg_c/(2m))²) with e_c = intra-community
    undirected edges, deg_c = summed degrees, m = total undirected edges.
    One row ``(modularity, n_communities, intra_edges, m_edges)`` — the
    quality readout for a label_propagation / components labeling.

    Scale shape: edge canonicalization is one dedup shuffle; the two
    label attachments are hash joins keyed src/dst (the label table is
    |V| rows — joined, never broadcast, never collected); everything
    after is |labels|-sized aggregates. Per-community terms are computed
    identically in the DuckDB oracle; the final Σ over communities is
    the only cross-engine float-order difference (rounded by the
    caller)."""
    und = canonical_edges(edges)
    lab = labels.select("id", "label")
    m_row = und.agg(F.count("*").cast("double").alias("m"))
    la = lab.select(F.col("id").alias("u"), F.col("label").alias("la"))
    lb = lab.select(F.col("id").alias("v"), F.col("label").alias("lb"))
    tagged = und.join(la, "u").join(lb, "v")
    intra = (
        tagged.filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count("*").cast("double").alias("intra_c"))
    )
    degc = (
        canonical_degrees(und)
        .join(lab, "id")
        .groupBy("label")
        .agg(F.sum("deg").cast("double").alias("deg_c"))
    )
    terms = (
        degc.join(intra, "label", "left")
        .crossJoin(F.broadcast(m_row))
        .select(
            F.col("label"),
            (
                F.coalesce("intra_c", F.lit(0.0)) / F.col("m")
                - (F.col("deg_c") / (F.lit(2.0) * F.col("m")))
                * (F.col("deg_c") / (F.lit(2.0) * F.col("m")))
            ).alias("term"),
            "intra_c",
        )
    )
    return (
        terms.agg(
            F.sum("term").alias("modularity"),
            F.sum(F.coalesce("intra_c", F.lit(0.0)))
            .cast("long")
            .alias("intra_edges"),
        )
        .crossJoin(
            F.broadcast(
                lab.agg(F.countDistinct("label").alias("n_communities"))
            )
        )
        .crossJoin(F.broadcast(m_row.select(F.col("m").cast("long").alias("m_edges"))))
        .select("modularity", "n_communities", "intra_edges", "m_edges")
    )


def powerlaw_alpha(edges: DataFrame, xmin: int = 1) -> DataFrame:
    """Continuous maximum-likelihood power-law exponent of the TOTAL
    (in+out) degree distribution (Newman 2005, Contemporary Physics
    46(5), eq. 5; Clauset et al. 2009, SIAM Rev. 51(4)):
    α = 1 + n / Σ ln(d_i / xmin) over vertices with degree >= xmin.
    One row ``(n_tail, alpha)`` — the quantitative companion to the
    scale_free_heuristic row (D11).

    Scale shape: one degree aggregation + one scalar aggregate; ln() is
    evaluated per vertex JVM-side."""
    if xmin < 1:
        raise ValueError(f"xmin must be >= 1, got {xmin}")
    deg = (
        edges.select(F.col("src").alias("id"))
        .unionAll(edges.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
        .filter(F.col("deg") >= xmin)
    )
    return deg.agg(
        F.count("*").alias("n_tail"),
        (
            F.lit(1.0)
            + F.count("*")
            / F.sum(F.log(F.col("deg").cast("double") / F.lit(float(xmin))))
        ).alias("alpha"),
    )
