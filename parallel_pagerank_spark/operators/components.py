"""Connected components via iterative min-label propagation (SURVEY.md §2 E3).

No reference counterpart; mandated by the north rule: synchronous min-label
propagation to fixpoint over the undirected edge set, component id = min
vertex id in the component, convergence when zero labels change.

Per superstep: every vertex takes the min of its own label and its
neighbors' labels — ONE join (edges ⋈ labels on src) + groupBy(dst).min.
The edge table carries a self-row (v, v) per vertex, so the vertex's own
label enters its group through the same join and no merge with the
previous labels is needed. ONE action per superstep (fused changed-count +
not-yet-converged check), run as one Spark job. The loop is the keyed-state
superstep driver in plans/iterate.py, shared with PageRank and LPA: it
plans the loop's queries with adaptive execution off, keeps each
superstep's labels as a local checkpoint (lineage cut every superstep),
and, with a checkpoint directory, writes the durable parquet snapshots a
run resumes from.

Scaling note: plain min-label propagation needs O(diameter) supersteps —
fine for social/web graphs (diameter ~20), slow on path graphs. For
path-heavy inputs use ``large_star_small_star`` below (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14 — public
algorithm), which converges in O(log^2 n) rounds and returns the identical
min-id labeling.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.checkpoint import SuperstepCheckpointer
from ..plans.iterate import Frontier, SuperstepState
from ..session import adaptive_off, frame_from_pandas, shuffle_partitions
from .graph import symmetrize, vertices_from_edges

# vectorized fast path bounds: the label array is O(N) driver memory
# (8 bytes/vertex → 400 MB at 5·10^7), edge arrays O(E)
_FAST_MAX_NODES = 50_000_000


@dataclass
class ComponentsResult:
    components: DataFrame  # (id: long, component: long)
    supersteps: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)
    # "dataframe" = distributed superstep loop (the scale path);
    # "vectorized" = driver-side numpy hook+compress for graphs that fit
    mode: str = "dataframe"


def _route_fast(
    edges: DataFrame,
    vertices: DataFrame | None,
    fast_path_edges: int,
) -> int | None:
    """Return N (=max_id+1) if the vectorized fast path applies, else
    None. Applies only under the default dense-id vertex rule with E and N
    below the in-memory bounds. The one-row aggregate runs without AQE:
    it has nothing to adapt, and AQE would run its partial aggregation and
    its final row as two jobs instead of one."""
    if vertices is not None or fast_path_edges <= 0:
        return None
    with adaptive_off(edges.sparkSession):
        row = edges.agg(
            F.greatest(F.max("src"), F.max("dst")).alias("m"),
            F.least(F.min("src"), F.min("dst")).alias("lo"),
            F.count("*").alias("e"),
        ).first()
    if row["m"] is None:
        return None
    # negative ids would wrap through numpy indexing and silently merge
    # components — only the dense non-negative id space routes; anything
    # else stays on the join-based distributed path (id-agnostic)
    if int(row["lo"]) < 0:
        return None
    n = int(row["m"]) + 1
    if n <= _FAST_MAX_NODES and int(row["e"]) <= fast_path_edges:
        return n
    return None


def _components_fast(
    edges: DataFrame, n: int, max_iter: int
) -> ComponentsResult:
    """Driver-side min-label hook + double pointer-jump (numpy) — same
    fixpoint (component = min vertex id) as the distributed loops, for
    graphs whose edge list fits driver memory. O(E) per round, geometric
    convergence; the per-round hook makes any fixpoint exact.

    Honors the caller's ``max_iter`` exactly like the DataFrame path:
    hitting the cap before the fixpoint returns ``converged=False`` with
    the last labeling (hook rounds converge geometrically, so in practice
    a handful of rounds suffice)."""
    spark = edges.sparkSession
    pdf = edges.select("src", "dst").filter(
        F.col("src") != F.col("dst")
    ).toPandas()
    src = pdf["src"].to_numpy(dtype=np.int64)
    dst = pdf["dst"].to_numpy(dtype=np.int64)
    labels = np.arange(n, dtype=np.int64)
    metrics: list[dict] = []
    steps = 0
    converged = False
    while steps < max_iter:
        t0 = time.monotonic()
        new = labels.copy()
        # hook: pull the neighbor's label along both directions
        np.minimum.at(new, dst, labels[src])
        np.minimum.at(new, src, labels[dst])
        # compress twice: label <- label of the vertex the label names
        new = new[new]
        new = new[new]
        changed = int((new != labels).sum())
        steps += 1
        metrics.append(
            {
                "superstep": steps,
                "changed": changed,
                "wall_ms": (time.monotonic() - t0) * 1000.0,
            }
        )
        if changed == 0:
            converged = True
            break
        labels = new
    out = frame_from_pandas(
        spark,
        pd.DataFrame(
            {"id": np.arange(n, dtype=np.int64), "component": labels}
        ),
    )
    return ComponentsResult(out, steps, converged, metrics, mode="vectorized")


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 200,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
    fast_path_edges: int = 10_000_000,
    resume: bool = False,
) -> ComponentsResult:
    """Synchronous min-label propagation to fixpoint.

    ``resume=True`` continues from the latest durable checkpoint under
    ``checkpoint_dir`` (same manifest contract as PageRank): the label
    snapshot, superstep counter, and per-superstep metrics are restored,
    and a run that had already converged returns immediately. A snapshot
    is written every ``checkpoint_interval`` supersteps and at
    convergence; without ``checkpoint_dir`` no files are written, and the
    labels live only in executor blocks, so losing an executor fails the
    run (plans/iterate.py).

    Small dense-id graphs (E <= fast_path_edges under the default vertex
    rule, no checkpointing) auto-route to the vectorized fast path — the
    superstep loop below ~10^6 edges is pure per-iteration scheduling
    overhead. DRIVER-MEMORY NOTE: the fast path collects the edge list to
    the driver (~16 bytes/edge as numpy int64 pairs, plus a transient
    Arrow/pandas copy — ~10M edges ≈ a few hundred MB) and holds an O(N)
    label array; on a memory-constrained driver lower ``fast_path_edges``
    or pass 0 to force the fully distributed loop."""
    if checkpoint_dir is None:
        n_fast = _route_fast(edges, vertices, fast_path_edges)
        if n_fast is not None:
            return _components_fast(edges, n_fast, max_iter)
    num_parts = shuffle_partitions(edges.sparkSession)
    if vertices is None:
        vertices = vertices_from_edges(edges)
    sym = _neighbors_with_self(edges, vertices, num_parts)
    state = SuperstepState(
        num_parts,
        "id",
        checkpointer=SuperstepCheckpointer(checkpoint_dir, "components"),
        checkpoint_interval=checkpoint_interval,
    )

    def step(labels: DataFrame):
        # push each vertex's label along every edge and its self-row, take
        # the min at the destination. Both join sides are pre-partitioned
        # on the join key → zero-shuffle join; shuffle_hash avoids sorts.
        new_labels = (
            sym.join(
                labels.hint("shuffle_hash"), sym.src == labels.id, "inner"
            )
            .groupBy("dst")
            .agg(F.min("label").alias("label"), _own("label"))
            .filter(F.col("old_label").isNotNull())
            .select(F.col("dst").alias("id"), "old_label", "label")
        )
        return new_labels, [_changed_count()]

    labels, steps, converged, metrics = state.run(
        lambda: vertices.select("id", F.col("id").alias("label")),
        step,
        _observe_changed,
        max_iter,
        resume=resume,
    )
    sym.unpersist()
    return ComponentsResult(
        labels.select("id", F.col("label").alias("component")),
        steps,
        converged,
        metrics,
    )


def _neighbors_with_self(
    edges: DataFrame, vertices: DataFrame, num_parts: int
) -> DataFrame:
    """The label loops' edge table: the undirected edge set plus one
    self-row ``(v, v)`` per vertex, hash-partitioned on src and persisted.
    ``symmetrize`` drops real self-loops, so ``src == dst`` marks the
    self-row. Joined against the labels, the self-row carries each vertex's
    old label into its own group, so one aggregation yields the next state;
    a group without a self-row is an edge into a vertex outside
    ``vertices`` and is dropped."""
    sym = (
        symmetrize(edges)
        .unionByName(
            vertices.select(F.col("id").alias("src"), F.col("id").alias("dst"))
        )
        .repartition(num_parts, "src")
    )
    # planned like the loop that reads it (plans/iterate.py): on a 20k-edge
    # graph, persisting and counting it ran 5 jobs with AQE on and 1 with
    # it off
    with adaptive_off(edges.sparkSession):
        sym = sym.persist(StorageLevel.MEMORY_AND_DISK)
        sym.count()
    return sym


def _own(col: str):
    """Aggregate column ``old_label``: ``col`` on the group's self-row."""
    return F.max(F.when(F.col("src") == F.col("dst"), F.col(col))).alias(
        "old_label"
    )


def _changed_count():
    """Fused-action column: labels that moved this superstep."""
    return F.sum((F.col("label") != F.col("old_label")).cast("long")).alias(
        "changed"
    )


def _observe_changed(step: int, row) -> tuple[dict, bool]:
    """Metrics record + stop rule of the label loops: stable labels."""
    changed = int(row["changed"] or 0)
    return {"superstep": step, "changed": changed}, changed == 0


def large_star_small_star(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 50,
    fast_path_edges: int = 10_000_000,
) -> ComponentsResult:
    """Alternating large-star / small-star connected components
    (Kiveris et al. SoCC'14): O(log^2 n) rounds on any graph shape.
    Small dense-id graphs auto-route to the shared vectorized fast path
    (identical labeling); fast_path_edges=0 opts out — see the
    driver-memory note on ``connected_components``.

    State is an edge set (u, v) meaning "u and v are in the same component".
    - large-star: for each u, connect every neighbor v > u to m = min
      neighborhood-with-self; - small-star: connect every neighbor v <= u
      (and u) to m. Fixpoint: every vertex points directly at its component
      min. Returns labels identical to min-label propagation.
    """
    n_fast = _route_fast(edges, vertices, fast_path_edges)
    if n_fast is not None:
        return _components_fast(edges, n_fast, max_iter)
    num_parts = shuffle_partitions(edges.sparkSession)
    if vertices is None:
        vertices = vertices_from_edges(edges)

    # state: pairs (hi, lo) with hi > lo meaning "same component"; the
    # initial orientation of every undirected edge is (max, min)
    loop = Frontier(max_iter)
    pairs, n_pairs = loop.checkpoint(
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("hi"),
            F.least("src", "dst").alias("lo"),
        )
        .distinct()
        .repartition(num_parts, "hi"),
        into="pairs",
    )
    for _ in loop.rounds():
        # large-star: for every node u over its FULL neighborhood, attach
        # each strictly-larger neighbor v to m = min(neighborhood ∪ {u})
        # NO neighborhood arrays anywhere: a 10^8-degree hub must never
        # become one multi-GB collect_set row. Both stars are expressed as
        # (flat edge set) ⋈ (per-vertex min) — every row stays O(1).
        sym = pairs.select(
            F.col("hi").alias("u"), F.col("lo").alias("v")
        ).unionByName(
            pairs.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        m_of_u = (
            sym.groupBy("u")
            .agg(F.min("v").alias("minv"))
            .select("u", F.least("u", "minv").alias("m"))
        )
        ls = (
            sym.filter(F.col("v") > F.col("u"))
            .join(m_of_u, "u")
            # v > u >= m ⇒ orientation (hi=v, lo=m); drop self-pairs
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .distinct()
        )
        # small-star: for every node u over its strictly-smaller neighbors N
        # (edges are (hi, lo)-oriented, so N = lo-set grouped by hi), attach
        # u and all of N to m = min(N)
        m_of_hi = ls.groupBy("hi").agg(F.min("lo").alias("m"))
        ss = (
            ls.join(m_of_hi, "hi")
            .filter(F.col("lo") != F.col("m"))
            .select(F.col("lo").alias("v"), "m")
            .unionByName(
                m_of_hi.select(F.col("hi").alias("v"), "m")
            )
        ).select(F.col("v").alias("hi"), F.col("m").alias("lo"))
        old = pairs
        pairs, n_new = loop.checkpoint(
            ss.filter(F.col("hi") != F.col("lo"))
            .distinct()
            .repartition(num_parts, "hi"),
            into="pairs",
        )
        # converged when the pair set is stable (a star forest rooted at
        # each component's min id). Both sides are DISTINCT sets, so equal
        # counts plus an empty anti-join (new ⊆ old) prove equality: one
        # extra shuffle on the final round, not two exceptAlls per round.
        diff = 1
        if n_new == n_pairs:
            diff = (
                pairs.join(old, ["hi", "lo"], "left_anti").limit(1).count()
            )
        loop.record(changed=int(abs(n_new - n_pairs) or diff), done=diff == 0)
        n_pairs = n_new
    comp = (
        vertices.join(
            pairs.select(
                F.col("hi").alias("id"), F.col("lo").alias("component")
            ),
            "id",
            "left",
        )
        .groupBy("id")
        .agg(
            F.coalesce(F.min("component"), F.min("id")).alias("component")
        )
    )
    return ComponentsResult(comp, loop.steps, loop.converged, loop.metrics)


def connected_components_incremental(
    prev_labels: DataFrame,
    new_edges: DataFrame,
    **kwargs,
) -> "ComponentsResult":
    """Incremental connected components after an edge-batch append — the
    crawl-refresh / snapshot-update path (the link graph grows every
    ingest; recomputing over the full historical edge set rescans data
    whose connectivity is already known).

    ``prev_labels`` is an earlier run's ``(id, component)`` frame (any
    labeling where the label is the component's minimum member id —
    what every operator in this module produces). Each label row is
    re-read as an edge ``id → component``: a diameter-≤2 star that
    summarizes the old snapshot's connectivity exactly, so

        CC(prev_labels-as-edges  ∪  new_edges)
          ==  CC(old_edges ∪ new_edges)

    vertex-for-vertex (labels are min member ids, so the union graph's
    min-label components coincide with the full graph's). The win at
    scale: the old side shrinks from |E_old| rows to |V_old| rows, and
    its star shape means supersteps are spent only on the connectivity
    the NEW batch actually changes.

    Plain composition over :func:`connected_components`; all its
    routing, checkpointing, and ``**kwargs`` apply unchanged.
    """
    star = prev_labels.select(
        F.col("id").cast("long").alias("src"),
        F.col("component").cast("long").alias("dst"),
    )
    union = star.unionByName(
        new_edges.select(
            F.col("src").cast("long"), F.col("dst").cast("long")
        )
    )
    return connected_components(union, **kwargs)
