"""Transcript → link-graph derivation (SURVEY.md §2 E1/E2).

No reference counterpart (the reference reads edge lists directly); mandated
by the north rule: conversation/agent transcripts become a directed edge
table of

- reply links: turn i → turn i+1 within a conversation under the stable
  ``(conv_id, turn_idx)`` total order (lead window — the Spark-native form of
  a consecutive-turn self-join), and
- tool-handoff links: consecutive turns invoking the same non-null ``tool``,
  chained in ``(ts, conv_id, turn_idx)`` order across conversations (so a
  shared tool forms a hub-ish path through the graph rather than a quadratic
  all-pairs clique).

Vertex-id assignment:
- ``id_mode="hash"``  — ``xxhash64(conv_id, turn_idx)``: stateless and
  scale-free (no global coordination); collision probability is the usual
  64-bit birthday bound, acceptable up to ~10^8 turns per graph; use dense
  mode beyond that or when the dense 0..N-1 id space is required.
- ``id_mode="dense"`` — deterministic dense ids 0..N-1 in ``(conv_id,
  turn_idx)`` order: per-conversation offsets via a two-level prefix sum
  over the (much smaller) per-conversation turn counts — range-partitioned
  local cumsums plus driver-collected per-partition bases (P rows) — then
  offset + local row_number. NO single-partition window anywhere.

Invariant (input_hint): per-turn ``text`` equality under stable ordering —
derivation never mutates, drops, or reorders the transcript rows; tests
round-trip check it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..session import shuffle_partitions


def turn_vertices(transcripts: DataFrame, id_mode: str = "hash") -> DataFrame:
    """``(id, conv_id, turn_idx)`` — one vertex per turn."""
    if id_mode == "hash":
        return transcripts.select(
            F.xxhash64("conv_id", "turn_idx").alias("id"),
            "conv_id",
            "turn_idx",
        )
    if id_mode == "dense":
        # Two-level prefix sum, NO single-partition window: per-conv turn
        # counts are range-partitioned on conv_id (range partitions are
        # contiguous and ordered, so global conv order = (partition order,
        # within-partition order)); each partition computes its local
        # cumulative sum in parallel, and the P per-partition bases are
        # collected driver-side (P rows — bounded by the partition count,
        # not the data) and broadcast back. The resulting ids are
        # independent of where the sampled range boundaries fall.
        from pyspark.storagelevel import StorageLevel

        spark = transcripts.sparkSession
        nparts = shuffle_partitions(spark)
        counts = transcripts.groupBy("conv_id").agg(
            F.count("*").alias("n_turns")
        )
        # persist to pin the sampled range boundaries: pid must be
        # identical between the bases action and the offsets computation
        bucketed = (
            counts.repartitionByRange(nparts, "conv_id")
            .withColumn("pid", F.spark_partition_id())
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        totals = {
            r["pid"]: r["t"]
            for r in bucketed.groupBy("pid")
            .agg(F.sum("n_turns").alias("t"))
            .collect()
        }
        bases, acc = [], 0
        for pid in sorted(totals):
            bases.append((pid, acc))
            acc += int(totals[pid])
        base_df = spark.createDataFrame(bases or [(0, 0)], "pid int, base long")
        in_part_w = Window.partitionBy("pid").orderBy(
            "conv_id"
        ).rowsBetween(Window.unboundedPreceding, -1)
        offsets = bucketed.join(F.broadcast(base_df), "pid").select(
            "conv_id",
            (
                F.col("base")
                + F.coalesce(F.sum("n_turns").over(in_part_w), F.lit(0))
            ).alias("offset"),
        )
        local_w = Window.partitionBy("conv_id").orderBy("turn_idx")
        return (
            transcripts.join(offsets, "conv_id")
            .select(
                (
                    F.col("offset")
                    + F.row_number().over(local_w)
                    - F.lit(1)
                ).alias("id"),
                "conv_id",
                "turn_idx",
            )
        )
    raise ValueError(f"unknown id_mode: {id_mode}")


def derive_edges(
    transcripts: DataFrame,
    id_mode: str = "hash",
    reply_links: bool = True,
    handoff_links: bool = True,
) -> DataFrame:
    """→ ``edges(src: long, dst: long)`` (duplicates kept: a turn pair linked
    by both a reply and a handoff contributes twice, matching the reference's
    multi-edge semantics, csr_graph.c:19-23)."""
    with_ids = transcripts.join(
        turn_vertices(transcripts, id_mode),
        on=["conv_id", "turn_idx"],
        how="inner",
    )
    parts = []
    if reply_links:
        w = Window.partitionBy("conv_id").orderBy("turn_idx")
        parts.append(
            with_ids.select(
                F.col("id").alias("src"),
                F.lead("id").over(w).alias("dst"),
            ).filter(F.col("dst").isNotNull())
        )
    if handoff_links:
        w = Window.partitionBy("tool").orderBy("ts", "conv_id", "turn_idx")
        parts.append(
            with_ids.filter(F.col("tool").isNotNull())
            .select(
                "tool",
                F.col("id").alias("src"),
                F.lead("id").over(w).alias("dst"),
            )
            .filter(F.col("dst").isNotNull())
            .select("src", "dst")
        )
    if not parts:
        raise ValueError("at least one link type must be enabled")
    edges = parts[0]
    for p in parts[1:]:
        edges = edges.unionByName(p)
    return edges
