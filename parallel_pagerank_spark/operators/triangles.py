"""Triangle counting by ordered-edge self-join (SURVEY.md §2 E5).

No reference counterpart; mandated by the north rule. Counts distinct
triangles of the undirected simple graph underlying the edge set
(canonicalize src<dst, dedupe, drop self-loops).

Scale design: the naive three-way self-join on canonical (u<v) edges
enumerates every wedge at its lowest-id vertex — on skewed graphs the
low-id hub generates O(deg^2) wedges. The classic fix (public algorithm:
Schank's forward / "compact-forward"; also MR analog in Suri & Vassilvitskii
WWW'11) orients each edge from the lower-(degree, id) endpoint to the
higher: every wedge is then charged to its lowest-DEGREE corner, bounding
wedge count by O(E^{3/2}) and eliminating hub blowup. Both variants are kept:
``method="degree_oriented"`` (default, skew-proof) and ``method="ordered"``
(the literal ordered-edge self-join, also the DuckDB oracle form).

``triangle_count`` plans and runs its query with adaptive query execution
off (``session.adaptive_off``; the caller's setting is restored on return
or raise, ``ValueError`` for an unknown ``method`` included). The
degree-oriented query references the canonical edge set 11 times once its
joins are expanded (the oriented table is read twice, and each copy joins
the canonical edges against two degree tables, each a union of two more
references; the closure is the eleventh) and the degree table 4 times.
Without AQE, exchange reuse plans each of them once and the rest read it
as ``ReusedExchange``. With AQE on, nothing is reused: on a cached input
every reference scans the cache through its own ``TableCacheQueryStage``,
and the canonical form of that stage keeps its stage id and the scan's own
expression ids (the ``InMemoryTableScan`` under it canonicalizes equal),
so no two exchanges above it ever match in AQE's stage cache. The final
adaptive plan held 11 canonical-edge shuffle stages, 4 degree
aggregations and 6 broadcasts, one job each. On a nullable parquet input
the inferred ``isnotnull(least/greatest)`` filters pushed into each
reference's scan also differ between references. Measured on the
benchmark's ``events_routed`` triangle input, seed 1 (195,500
co-occurrence edges, 97,000 triangles, local[4] on a 4-core host,
scripts/triangle_jobs.py, BENCH/triangle_jobs.log), AQE on → off per call:
``degree_oriented`` 23 → 5 jobs, 30.5 → 8.4 MB shuffle written, first call
10.7 → 1.9 s, warm calls 4.8 → 1.4 s; ``ordered`` 7 → 3 jobs, 5.9 → 3.9
MB. Ruled out: ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
=false`` (still 23 jobs), persisting the oriented table under AQE (16
jobs), and a wedge-free path form closed against the oriented table (31
jobs with AQE on). The lazy frames ``triangle_edges``,
``per_vertex_triangle_counts`` and ``stats.clustering_coefficient`` are
planned by their callers, with the caller's setting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import adaptive_off
from .graph import canonical_degrees, canonical_edges


def triangle_edges(edges: DataFrame, method: str = "degree_oriented") -> DataFrame:
    """→ one row per triangle ``(a, b, c)`` with a < b < c."""
    canon = canonical_edges(edges)
    if method == "ordered":
        e1 = canon.select(F.col("u").alias("a"), F.col("v").alias("b"))
        e2 = canon.select(F.col("u").alias("b"), F.col("v").alias("c"))
        e3 = canon.select(F.col("u").alias("a"), F.col("v").alias("c"))
        return (
            e1.join(e2, "b")
            .join(e3, ["a", "c"])
            .select("a", "b", "c")
        )
    if method == "degree_oriented":
        deg = canonical_degrees(canon)
        # orient each canonical edge low→high by (deg, id)
        du = deg.select(
            F.col("id").alias("u"), F.col("deg").alias("du")
        )
        dv = deg.select(
            F.col("id").alias("v"), F.col("deg").alias("dv")
        )
        with_deg = canon.join(du, "u").join(dv, "v")
        lt = (F.col("du") < F.col("dv")) | (
            (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
        )
        oriented = with_deg.select(
            F.when(lt, F.col("u")).otherwise(F.col("v")).alias("lo"),
            F.when(lt, F.col("v")).otherwise(F.col("u")).alias("hi"),
        )
        # wedges at the lowest-degree corner, closed against the canonical set
        w1 = oriented.select(F.col("lo").alias("p"), F.col("hi").alias("x"))
        w2 = oriented.select(F.col("lo").alias("p"), F.col("hi").alias("y"))
        wedges = (
            w1.join(w2, "p")
            .filter(F.col("x") < F.col("y"))
            .select(
                "p",
                F.col("x").alias("u"),
                F.col("y").alias("v"),
            )
        )
        closed = wedges.join(canon, ["u", "v"], "inner")
        return closed.select(
            F.array_sort(F.array("p", "u", "v")).alias("t")
        ).select(
            F.element_at("t", 1).alias("a"),
            F.element_at("t", 2).alias("b"),
            F.element_at("t", 3).alias("c"),
        )
    raise ValueError(f"unknown method: {method}")


def triangle_count(edges: DataFrame, method: str = "degree_oriented") -> int:
    with adaptive_off(edges.sparkSession):
        return triangle_edges(edges, method).count()


def per_vertex_triangle_counts(
    edges: DataFrame, method: str = "degree_oriented"
) -> DataFrame:
    """``(id, triangles)`` — each triangle credits all three corners; vertices
    in no triangle are absent (left-join against vertices to densify)."""
    tri = triangle_edges(edges, method)
    corners = (
        tri.select(F.col("a").alias("id"))
        .unionAll(tri.select(F.col("b").alias("id")))
        .unionAll(tri.select(F.col("c").alias("id")))
    )
    return corners.groupBy("id").agg(F.count("*").alias("triangles"))
