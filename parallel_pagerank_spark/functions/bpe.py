"""Distributed BPE tokenizer training (byte-pair encoding).

Sennrich, Haddow & Birch, *Neural Machine Translation of Rare Words
with Subword Units*, ACL 2016 §3.2 — the tokenizer-training inner
loop a training-data pipeline runs over its corpus: count adjacent
symbol pairs, merge the most frequent, repeat.

Scale shape (the whole point of doing this in Spark): the corpus is
shuffled ONCE into a (word, freq) table — for a 100 TB corpus that
table is vocabulary-sized (millions of rows, not trillions), so every
merge round thereafter runs on data ~6 orders of magnitude smaller
than the input. Per round: adjacent pairs are derived ARRAY-side
(``zip_with`` of two slices — no posexplode self-join), one hash
aggregation picks the winner, and the merge is applied as an
``aggregate`` fold over the symbol arrays (whole-stage codegen, no
Python). The chosen pair is a 1-row driver action per round — it *is*
the model parameter, the same role as PageRank's convergence scalar.
Lineage is truncated with ``localCheckpoint`` on the vocab-sized table
so the plan stays flat across rounds (the plans/iterate.py interval-k
lesson).

Reference parity note: the reference engine has no tokenizer; this is
part of the LLM-pipeline surface the brief adds on top (SURVEY §2 H).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import normalized_text

#: End-of-word marker appended to every word's symbol sequence so merges
#: never cross word boundaries and word-final units stay distinct from
#: word-internal ones (Sennrich §3.2 uses the same sentinel).
EOW = "</w>"


def word_frequencies(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """``(word, freq)`` over whitespace-normalized text — the ONE
    corpus-wide shuffle of BPE training; everything after runs on this
    vocabulary-sized table."""
    norm = docs.select(normalized_text(F.col(text_col)).alias("t")).filter(
        F.length("t") > 0
    )
    return (
        norm.select(F.explode(F.split("t", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def initial_symbols(words: DataFrame) -> DataFrame:
    """``(word, freq, syms)``: each word split into single characters
    plus the :data:`EOW` sentinel. ``regexp_extract_all('.')`` keeps
    Spark and the DuckDB oracle character-splitting identical (both
    engines treat '.' as any-char-but-newline; normalized text has no
    newlines)."""
    return words.select(
        "word",
        "freq",
        F.concat(
            F.regexp_extract_all("word", F.lit("."), 0),
            F.array(F.lit(EOW)),
        ).alias("syms"),
    )


def pair_counts(syms: DataFrame) -> DataFrame:
    """Corpus-weighted adjacent-pair counts ``(lhs, rhs, n)`` of a
    symbols table — array-side ``zip_with`` of the two off-by-one
    slices, then one hash aggregation. No posexplode self-join: the
    pair derivation never leaves the row."""
    s = F.col("syms")
    pairs = F.zip_with(
        F.slice(s, 1, F.size(s) - 1),
        F.slice(s, 2, F.size(s) - 1),
        lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
    )
    return (
        syms.filter(F.size(s) >= 2)
        .select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
        .agg(F.sum("freq").alias("n"))
    )


def bpe_pair_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """First-round BPE pair statistics straight from documents —
    the SQL-expressible slice of training (driver query ``bpe_pairs``)."""
    return pair_counts(initial_symbols(word_frequencies(docs, text_col)))


def _apply_merge(syms: Column, lhs: str, rhs: str) -> Column:
    """One merge rule applied left-to-right, non-overlapping: a fold
    that glues the incoming symbol onto the accumulator's last element
    when (last, current) == (lhs, rhs). ``F.get`` (0-based, NULL on
    out-of-range) keeps the empty-accumulator probe ANSI-safe."""
    merged = F.lit(lhs + rhs)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.get(acc, F.size(acc) - 1) == F.lit(lhs)) & (x == F.lit(rhs)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Learn ``n_merges`` BPE merge rules; returns ``(rank, lhs, rhs)``
    with rank = merge order (0-based). Deterministic: the winning pair
    each round is argmax by (count desc, lhs asc, rhs asc); training
    stops early when no pair is left (fully merged corpus).

    Iterative and data-dependent (each round's winner parameterizes the
    next round's fold), hence no single-statement SQL oracle — the
    driver query is rows-only with a pure-Python parity test
    (tests/test_bpe.py)."""
    if n_merges < 0:
        raise ValueError(f"n_merges must be >= 0, got {n_merges}")
    spark = docs.sparkSession
    syms = initial_symbols(
        word_frequencies(docs, text_col)
    ).localCheckpoint()
    merges: list[tuple[int, str, str]] = []
    for rank in range(n_merges):
        top = (
            pair_counts(syms)
            .orderBy(F.desc("n"), F.asc("lhs"), F.asc("rhs"))
            .select("lhs", "rhs")
            .first()
        )
        if top is None:
            break
        merges.append((rank, top["lhs"], top["rhs"]))
        syms = syms.select(
            "word",
            "freq",
            _apply_merge(F.col("syms"), top["lhs"], top["rhs"]).alias(
                "syms"
            ),
        ).localCheckpoint()
    return spark.createDataFrame(
        merges, "rank int, lhs string, rhs string"
    )


def bpe_segment(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge table to a corpus: ``(id, tokens)`` where
    tokens is the word-by-word BPE segmentation (EOW markers kept, so
    the segmentation is reversible).

    The merge table is the *model* — vocabulary-bounded (32k-ish rules
    at real scale), so it is collected once and applied as a
    broadcast-closure fold per rule with lineage truncation every 8
    rules. Rule application itself stays array-side whole-stage
    codegen; for a 32k-rule production vocabulary the same collected
    table would drive a mapInPandas pass instead (one Python dict scan
    per word — documented scale tier, same output contract)."""
    rules = [
        (r["lhs"], r["rhs"])
        for r in merges.orderBy("rank").select("lhs", "rhs").collect()
    ]
    norm = normalized_text(F.col(text_col))
    words = F.when(
        F.length(norm) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(norm, " "))
    out = docs.select(
        F.col(id_col),
        F.transform(
            words,
            lambda w: F.concat(
                F.regexp_extract_all(w, F.lit("."), 0),
                F.array(F.lit(EOW)),
            ),
        ).alias("wsyms"),
    )
    def _rule(lhs: str, rhs: str):
        # a factory, not default-arg lambdas: pyspark reads the lambda's
        # own arity to pick the higher-order-function signature
        return lambda s: _apply_merge(s, lhs, rhs)

    for i, (lhs, rhs) in enumerate(rules):
        out = out.select(
            id_col,
            F.transform("wsyms", _rule(lhs, rhs)).alias("wsyms"),
        )
        if (i + 1) % 8 == 0:
            out = out.localCheckpoint()
    return out.select(id_col, F.flatten("wsyms").alias("tokens"))
