"""Sequence packing — the concat-then-chunk pass that turns a document
corpus into fixed-length training sequences (the GPT-2/GPT-3 input
pipeline: documents are concatenated in a deterministic order with an
EOS separator after each one, and the resulting global token stream is
cut into non-overlapping windows of ``seq_len`` tokens; Brown et al.
2020 §B, Radford et al. 2019 §2).

Two readouts:

- :func:`pack_sequences` — the SLICE MAP ``(seq_id, doc_id, tok_start,
  seq_pos, slice_len)``: which 1-based token range of which document
  (position ``n_tok+1`` is the EOS) lands at which offset of which
  sequence. All-integer, engine-portable, and the form a downstream
  tokenizer actually wants (it never moves the text, only bookkeeping
  rows — one row per (document, overlapped window), i.e.
  ``O(total_tokens / seq_len + n_docs)`` rows total).
- :func:`pack_sequence_text` — the materialized sequences
  ``(seq_id, n_tokens, seq_text)`` for inspection / small exports.

Scale shape (the 100 TB story):

- The single global coordinate every doc needs — its offset in the
  concatenated stream — is a TWO-LEVEL prefix sum (the same pattern as
  ``operators/derive.py`` dense ids): per-doc token counts are
  range-partitioned on the order key, each partition cumsums locally in
  parallel, and only the P per-partition totals (bounded by the
  partition count, not the data) visit the driver to become broadcast
  bases. No single-partition window, no global sort of the corpus.
- Window assignment is ARRAY-SIDE: each doc expands to exactly the
  sequences it overlaps via ``sequence()`` + ``explode`` — never a
  range join against a sequence table.
- Only :func:`pack_sequence_text` shuffles text, keyed on ``seq_id``
  with every output row bounded by ``seq_len`` tokens — no skew
  hazard by construction (every key holds <= seq_len tokens).

Reference parity note: the reference engine
(/root/reference/pagerank_mpi/pagerank_mpi.c) has no training-data
surface; this module is part of the LLM-pipeline family the brief adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..session import shuffle_partitions
from .spans import _tokens

__all__ = ["pack_sequences", "pack_sequence_text"]


def _global_offsets(counts: DataFrame, key_col: str) -> DataFrame:
    """``(key, n, off)``: 0-based offset of each row's token run in the
    stream formed by concatenating runs in ``key_col`` order. Two-level
    prefix sum — see module docstring; mirrors operators/derive.py."""
    from pyspark.storagelevel import StorageLevel

    spark = counts.sparkSession
    nparts = shuffle_partitions(spark)
    # persist pins the sampled range boundaries: pid must be identical
    # between the bases action and the offsets computation
    bucketed = (
        counts.repartitionByRange(nparts, key_col)
        .withColumn("pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    totals = {
        r["pid"]: r["t"]
        for r in bucketed.groupBy("pid").agg(F.sum("n").alias("t")).collect()
    }
    bases, acc = [], 0
    for pid in sorted(totals):
        bases.append((pid, acc))
        acc += int(totals[pid])
    base_df = spark.createDataFrame(bases or [(0, 0)], "pid int, base long")
    in_part = (
        Window.partitionBy("pid")
        .orderBy(key_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return bucketed.join(F.broadcast(base_df), "pid").select(
        key_col,
        "n",
        (F.col("base") + F.coalesce(F.sum("n").over(in_part), F.lit(0))).alias(
            "off"
        ),
    )


def _slice_map(
    docs: DataFrame,
    seq_len: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(doc tokens, offsets, exploded per-sequence slices) — shared by
    both readouts. Every document contributes its ``n_tok`` tokens plus
    ONE trailing EOS (position ``n_tok + 1``), empty docs just the EOS,
    so the stream length is exactly ``sum(n_tok) + n_docs``."""
    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    counts = docs.select(
        F.col(id_col).alias("doc_id"),
        (F.size(_tokens(text_col)) + F.lit(1)).cast("long").alias("n"),
    )
    offs = _global_offsets(counts, "doc_id")
    L = F.lit(seq_len).cast("long")
    # true integer division (`div`), not IEEE `/`: offsets are exact
    # int64 and must stay exact past 2^53 (a 100 TB corpus is ~2e13
    # tokens; headroom matters, double division does not round-trip it)
    first = F.expr(f"off div {seq_len}")
    last = F.expr(f"(off + n - 1) div {seq_len}")
    lo = F.greatest(F.col("off"), F.col("seq_id") * L)
    hi = F.least(F.col("off") + F.col("n"), (F.col("seq_id") + 1) * L)
    return (
        offs.select(
            "doc_id",
            "n",
            "off",
            F.explode(F.sequence(first, last)).alias("seq_id"),
        )
        .select(
            "seq_id",
            "doc_id",
            (lo - F.col("off") + 1).alias("tok_start"),
            (lo - F.col("seq_id") * L).alias("seq_pos"),
            (hi - lo).alias("slice_len"),
        )
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 128,
    id_col: str = "doc_id",
    text_col: str = "text",
    drop_last: bool = False,
) -> DataFrame:
    """-> ``(seq_id, doc_id, tok_start, seq_pos, slice_len)``: the
    packing slice map. Sequence ``s`` holds global token positions
    ``[s*seq_len, (s+1)*seq_len)``; the row says tokens
    ``tok_start .. tok_start+slice_len-1`` (1-based; ``n_tok+1`` = EOS)
    of ``doc_id`` land at 0-based offset ``seq_pos`` of that sequence.

    ``drop_last=True`` drops the final ragged window (the GPT
    convention); the default keeps it, flagged by nothing — its
    ``sum(slice_len) < seq_len``.
    """
    out = _slice_map(docs, seq_len, id_col, text_col)
    if drop_last:
        total = out.agg(
            F.sum("slice_len").alias("t")
        )  # == stream length; one scalar action
        n_full = int(total.first()["t"]) // seq_len
        out = out.filter(F.col("seq_id") < F.lit(n_full))
    return out


def pack_sequence_text(
    docs: DataFrame,
    seq_len: int = 128,
    id_col: str = "doc_id",
    text_col: str = "text",
    eos: str = "<eos>",
    drop_last: bool = False,
) -> DataFrame:
    """-> ``(seq_id, n_tokens, seq_text)``: the materialized packed
    sequences — each doc's slice is cut array-side from its (tokens +
    EOS) array, shuffled once keyed on ``seq_id`` (every key bounded by
    ``seq_len`` tokens), and reassembled with an ``array_sort`` over
    ``(seq_pos, text)`` structs — no window sort."""
    sm = pack_sequences(
        docs, seq_len, id_col=id_col, text_col=text_col, drop_last=drop_last
    )
    ext = docs.select(
        F.col(id_col).alias("doc_id"),
        F.concat(_tokens(text_col), F.array(F.lit(eos))).alias("toks"),
    )
    slices = sm.join(ext, "doc_id").select(
        "seq_id",
        "slice_len",
        F.struct(
            F.col("seq_pos"),
            F.array_join(
                F.slice("toks", F.col("tok_start").cast("int"), F.col("slice_len").cast("int")),
                " ",
            ).alias("txt"),
        ).alias("piece"),
    )
    return (
        slices.groupBy("seq_id")
        .agg(
            F.sum("slice_len").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("piece")), lambda p: p["txt"]
                ),
                " ",
            ).alias("seq_text"),
        )
    )
