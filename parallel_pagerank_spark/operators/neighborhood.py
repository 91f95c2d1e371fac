"""Sketch-based neighborhood function — ball sizes without pairwise BFS.

No reference counterpart. The neighborhood function N(v, t) = |{w :
dist(v, w) <= t}| and its aggregate N(t) = sum_v N(v, t) are the standard
way to read a web-scale graph's distance structure (effective diameter,
reachability growth) without computing all-pairs distances. The public
method is HyperBall (Boldi, Rosa & Vigna, "HyperANF: approximating the
neighbourhood function of very large graphs on a budget", WWW'11; and
"In-core computation of geometric centralities with HyperBall", 2013):
give every vertex a mergeable distinct-count sketch of its ball, then
per round OR in the out-neighbors' sketches — after t rounds vertex v's
sketch summarizes exactly ball(v, t).

This implementation uses Flajolet-Martin PCSA bitmap registers
(Flajolet & Martin, JCSS'85) instead of HyperLogLog, for one engineering
reason: the register update is a pure bitwise OR of ``h(w) & -h(w)``
(the lowest set bit of a DETERMINISTIC modular hash), so the whole
computation is integer arithmetic that any engine reproduces
bit-identically — the DuckDB oracle can unroll the supersteps with
``bit_or`` aggregates and hash-match exactly, the same discipline as the
deterministic walks (operators/walks.py). R registers live in R plain
BIGINT columns; no arrays, no UDFs, everything whole-stage codegen.

Superstep shape: one edges x sketches join shuffled on dst with a
map-side partial ``bit_or`` per register, a left join back onto the
previous state (sinks keep their own sketch), checkpointed by the
frontier driver of plans/iterate.py. The fixpoint probe is ONE aggregate
(total set bits is monotone nondecreasing under OR, so "unchanged total"
== "no sketch changed"), not an exceptAll pass.

At 100 TB scale this is THE way to get distance structure: per round one
edge-sized shuffle + one vertex-sized state, R*8 bytes of state per
vertex, and the estimate quality is a function of R only, not of graph
size.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.iterate import Frontier
from ..session import shuffle_partitions

# Deterministic register hashes: h_j(v) = (A_j * (v mod P) + B_j) mod P + 1,
# P = 2^31 - 1 (prime, so low bits are well mixed; values stay in [1, P]
# and A_j * (P - 1) < 2^63 — no overflow in ANSI mode, and every engine's
# 64-bit integer arithmetic agrees). Lowest-set-bit isolation h & -h then
# yields bit rho(h) with P(rho = k) ~ 2^-(k+1), the FM geometric law.
FM_PRIME = 2_147_483_647
FM_A0 = 2_654_435_761  # Knuth's multiplicative constant
FM_A_STEP = 2  # keeps every A_j odd
FM_B0 = 98_765
FM_B_STEP = 12_345
FM_PHI = 0.77351  # FM bias correction (Flajolet & Martin '85, thm 2)


def _register_hash(col, j: int):
    return (
        F.pmod(
            F.lit(FM_A0 + FM_A_STEP * j) * F.pmod(col, F.lit(FM_PRIME))
            + F.lit(FM_B0 + FM_B_STEP * j),
            F.lit(FM_PRIME),
        )
        + F.lit(1)
    ).cast("long")


def _reg(j: int) -> str:
    return f"s{j}"


@dataclass
class NeighborhoodResult:
    # (id: long, s0..s{R-1}: long) — FM registers summarizing ball(v, t)
    sketches: DataFrame
    supersteps: int
    converged: bool  # True iff the bit total stopped growing early
    # per round: {"superstep": t, "total_bits": int} — the growth curve
    growth: list[dict] = field(default_factory=list)


def neighborhood_sketches(
    edges: DataFrame,
    max_rounds: int = 8,
    num_registers: int = 8,
    directed: bool = True,
) -> NeighborhoodResult:
    """FM ball sketches after up to ``max_rounds`` supersteps.

    ball(v, t) follows OUT-edges: B(v, 0) = {v}, B(v, t) = B(v, t-1) ∪
    ∪_{(v,w) in E} B(w, t-1). directed=False symmetrizes first. Stops
    early when no register changed (monotone bit-total probe).

    Ids must be non-negative for oracle parity (Spark pmod vs SQL ``%``
    differ on negatives); the hash itself tolerates any long.
    """
    num_parts = shuffle_partitions(edges.sparkSession)
    regs = [_reg(j) for j in range(num_registers)]
    e = edges.select("src", "dst")
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    e = (
        e.distinct()
        .repartition(num_parts, "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e.count()
    verts = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    h = [_register_hash(F.col("id"), j) for j in range(num_registers)]
    loop = Frontier(max_rounds)
    bits = _bit_total(regs)
    state, total_bits = loop.checkpoint(
        verts.select(
            "id",
            *[
                h[j].bitwiseAND(-h[j]).alias(regs[j])
                for j in range(num_registers)
            ],
        ).repartition(num_parts, "id"),
        into="state",
        probe=bits,
    )
    loop.record(total_bits=total_bits)
    for _ in loop.rounds():
        gathered = (
            e.join(state, e.dst == state.id)
            .groupBy("src")
            .agg(*[F.bit_or(regs[j]).alias(f"g{j}") for j in range(num_registers)])
            .withColumnRenamed("src", "id")
        )
        state, new_total = loop.checkpoint(
            state.join(gathered, "id", "left")
            .select(
                "id",
                *[
                    F.col(regs[j])
                    .bitwiseOR(F.coalesce(F.col(f"g{j}"), F.lit(0)))
                    .alias(regs[j])
                    for j in range(num_registers)
                ],
            )
            .repartition(num_parts, "id"),
            into="state",
            probe=bits,
        )
        loop.record(total_bits=new_total, done=new_total == total_bits)
        total_bits = new_total
    e.unpersist()
    return NeighborhoodResult(state, loop.steps, loop.converged, loop.metrics)


def _bit_total(regs: list[str]):
    """Probe: the total set bits over a sketch frame's registers."""
    total = sum(F.sum(F.bit_count(F.col(r))) for r in regs)
    return lambda state: int(state.agg(total).first()[0] or 0)


def ball_size_estimates(sketches: DataFrame) -> DataFrame:
    """(id, est: double) — FM cardinality estimate of each vertex's ball:
    2^(mean over registers of lowest-ZERO-bit index) / phi. The index is
    pure integer bit arithmetic: y = ~s & (s + 1) isolates the lowest
    zero bit as a power of two, and bit_count(y - 1) is its position."""
    regs = [c for c in sketches.columns if c != "id"]
    idx = [
        F.bit_count(
            F.bitwise_not(F.col(r)).bitwiseAND(F.col(r) + F.lit(1))
            - F.lit(1)
        )
        for r in regs
    ]
    mean_r = sum(idx[1:], idx[0]).cast("double") / F.lit(float(len(regs)))
    return sketches.select(
        "id", (F.pow(F.lit(2.0), mean_r) / F.lit(FM_PHI)).alias("est")
    )


def effective_diameter(result: NeighborhoodResult, alpha: float = 0.9) -> int:
    """Smallest t whose bit total reaches ``alpha`` of the final total —
    the sketch-level effective-diameter readout (exact N(t) ratios need
    the estimates; the bit total is their monotone integer proxy)."""
    final = result.growth[-1]["total_bits"]
    for row in result.growth:
        if row["total_bits"] >= alpha * final:
            return int(row["superstep"])
    return int(result.growth[-1]["superstep"])
