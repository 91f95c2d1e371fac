"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Graph queries run over the events table (transcript-shaped, TESTDATA.md §5):
vertex = event_id; reply links = consecutive events per user (ts, event_id
order); handoff links = consecutive events sharing event_type.

Iterative operators get ORACLES too: connected components via unrolled
hook+compress (Shiloach-Vishkin-style) min-label rounds, label propagation
via 5 unrolled synchronous steps, fixed-iteration PageRank via a fully
unrolled 20-step power iteration — all as MATERIALIZED CTE chains (DuckDB
inlines plain CTEs, which would blow up exponentially). Only genuinely
inexpressible queries stay rows-only: convergence-driven pagerank_top20
(data-dependent iteration count) and the pd.util.hash_array-based
minhash/simhash/knn_lsh (no DuckDB equivalent of pandas' string hash);
those are verified against NumPy oracles in tests/ instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

# ---------------------------------------------------------------- SQL building blocks

_EDGES_CTE = """
reply AS (
  SELECT src, dst FROM (
    SELECT event_id AS src,
           lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
    FROM events) WHERE dst IS NOT NULL),
handoff AS (
  SELECT src, dst FROM (
    SELECT event_id AS src,
           lead(event_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
    FROM events) WHERE dst IS NOT NULL),
edges AS (SELECT * FROM reply UNION ALL SELECT * FROM handoff)
"""

# collapse BEFORE trim: SQL trim() strips spaces only, so a leading
# tab/newline must first become a space to be trimmed (matches the
# engine's functions/dedup._normalized exactly)
_NORM_TEXT_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

# ASCII punctuation, written as an explicit class so Java regex (Spark) and
# RE2 (DuckDB) agree exactly
_PUNCT_CLASS = r"[!-/:-@\[-`{-~]"

_STOPWORDS = (
    "the", "and", "of", "to", "a", "in", "is", "it", "that", "for",
)

_LANG_MARKERS = {
    "de": ("der", "und", "nicht", "das", "ist"),
    "en": ("the", "and", "with", "this", "have"),
    "es": ("los", "las", "por", "una", "con"),
    "fr": ("les", "des", "est", "une", "dans"),
}


def _occ_sql(expr: str, needle: str) -> str:
    return (
        f"(length({expr}) - length(replace({expr}, '{needle}', '')))"
        f" / {len(needle)}"
    )


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------- queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: PageRank over the sf0.001 event link graph, top-20."""
    from parallel_pagerank_spark.config import PageRankConfig
    from parallel_pagerank_spark.operators.pagerank import (
        pagerank,
        top_k_ranks,
    )
    from parallel_pagerank_spark.sources.events import event_graph_edges

    events = _events(spark, "/root/testdata/sf0.001")
    edges = event_graph_edges(events)
    res = pagerank(edges, config=PageRankConfig(tol=1e-6, max_iter=100))
    return top_k_ranks(res.ranks, 20)


def _q_edges_reply(spark, sf_dir):
    from parallel_pagerank_spark.sources.events import reply_edges

    return reply_edges(_events(spark, sf_dir))


def _q_edges_handoff(spark, sf_dir):
    from parallel_pagerank_spark.sources.events import handoff_edges

    return handoff_edges(_events(spark, sf_dir))


def _q_out_degree(spark, sf_dir):
    from parallel_pagerank_spark.operators.graph import out_degrees
    from parallel_pagerank_spark.sources.events import event_graph_edges

    return out_degrees(event_graph_edges(_events(spark, sf_dir)))


def _q_in_degree(spark, sf_dir):
    from parallel_pagerank_spark.operators.graph import in_degrees
    from parallel_pagerank_spark.sources.events import event_graph_edges

    return in_degrees(event_graph_edges(_events(spark, sf_dir)))


def _q_degree_stats(spark, sf_dir):
    from parallel_pagerank_spark.operators.stats import graph_summary
    from parallel_pagerank_spark.sources.events import event_graph_edges

    return graph_summary(event_graph_edges(_events(spark, sf_dir)))


def _q_top_out_degree(spark, sf_dir):
    from parallel_pagerank_spark.operators.graph import out_degrees
    from parallel_pagerank_spark.sources.events import event_graph_edges

    return (
        out_degrees(event_graph_edges(_events(spark, sf_dir)))
        .orderBy(F.desc("out_deg"), F.asc("id"))
        .limit(20)
    )


def _q_dangling_count(spark, sf_dir):
    from parallel_pagerank_spark.sources.events import event_graph_edges

    e = event_graph_edges(_events(spark, sf_dir))
    return e.agg(
        (
            F.greatest(F.max("src"), F.max("dst"))
            + 1
            - F.count_distinct(F.col("src"))
        ).alias("dangling_count")
    )


def _q_adjacency(spark, sf_dir):
    from parallel_pagerank_spark.sources.events import event_graph_edges

    e = event_graph_edges(_events(spark, sf_dir))
    return e.groupBy("src").agg(
        F.concat_ws(",", F.sort_array(F.collect_list("dst"))).alias(
            "neighbors"
        )
    )


def _q_degree_histogram(spark, sf_dir):
    from parallel_pagerank_spark.operators.stats import degree_histogram
    from parallel_pagerank_spark.sources.events import event_graph_edges

    return degree_histogram(event_graph_edges(_events(spark, sf_dir)), "out")


def _q_triangle_count(spark, sf_dir):
    from parallel_pagerank_spark.operators.triangles import triangle_edges
    from parallel_pagerank_spark.sources.events import cooccurrence_edges

    tri = triangle_edges(
        cooccurrence_edges(_events(spark, sf_dir), window=2), "ordered"
    )
    return tri.agg(F.count("*").alias("triangles"))


def _q_doc_exact_dedup(spark, sf_dir):
    from parallel_pagerank_spark.functions.dedup import exact_dedup

    return exact_dedup(_documents(spark, sf_dir)).select(
        "keep_id", "dup_count"
    )


def _q_doc_token_stats(spark, sf_dir):
    from parallel_pagerank_spark.functions.text import (
        bpeish_token_count,
        whitespace_token_count,
    )

    return _documents(spark, sf_dir).select(
        "doc_id",
        F.length("text").alias("n_chars_m"),
        whitespace_token_count(F.col("text")).alias("n_tokens"),
        bpeish_token_count(F.col("text")).alias("n_bpeish"),
    )


def _q_doc_quality(spark, sf_dir):
    c = F.coalesce(F.col("text"), F.lit(""))
    n = F.greatest(F.length(c), F.lit(1))
    return _documents(spark, sf_dir).select(
        "doc_id",
        F.round(
            (F.length(c) - F.length(F.regexp_replace(c, _PUNCT_CLASS, "")))
            / n,
            6,
        ).alias("punct_ratio"),
        F.round(
            (F.length(c) - F.length(F.regexp_replace(c, "[A-Z]", ""))) / n, 6
        ).alias("upper_ratio"),
        F.round(
            (F.length(c) - F.length(F.regexp_replace(c, "[0-9]", ""))) / n, 6
        ).alias("digit_ratio"),
    )


def _q_doc_langid(spark, sf_dir):
    from parallel_pagerank_spark.functions.text import language_id

    return _documents(spark, sf_dir).select(
        "doc_id", language_id("text").alias("lang")
    )


def _q_knn_bruteforce(spark, sf_dir):
    from parallel_pagerank_spark.functions.similarity import (
        cosine_topk_bruteforce,
    )

    emb = _embeddings(spark, sf_dir)
    queries = emb.orderBy("vec_id").limit(8)
    return cosine_topk_bruteforce(emb, queries, k=5).select(
        "query_id", "neighbor_id", "rnk"
    )


def _q_pagerank_fixed20(spark, sf_dir):
    """Fixed-iteration PageRank (20 power iterations, no early stop) —
    fully SQL-expressible, so this one DOES get a DuckDB oracle (unrolled
    20-iteration power iteration). Ranks rounded to 9 decimals to absorb
    summation-order float noise between engines."""
    from parallel_pagerank_spark.config import PageRankConfig
    from parallel_pagerank_spark.operators.pagerank import pagerank
    from parallel_pagerank_spark.sources.events import event_graph_edges

    edges = event_graph_edges(_events(spark, sf_dir))
    res = pagerank(edges, config=PageRankConfig(tol=0.0, max_iter=20))
    return (
        res.ranks.select("id", F.round("rank", 9).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("id"))
        .limit(20)
    )


def _q_pagerank_weighted20(spark, sf_dir):
    """Fixed-iteration WEIGHTED PageRank: deterministic integer-valued
    edge weights 1 + (src+dst) % 3, rank flowing proportionally to
    weight/Σweights(src) — oracle-checked against the unrolled weighted
    power iteration (weights are integer-valued doubles, so per-src sums
    are exact in both engines)."""
    from parallel_pagerank_spark.config import PageRankConfig
    from parallel_pagerank_spark.operators.pagerank import pagerank
    from parallel_pagerank_spark.sources.events import event_graph_edges

    edges = event_graph_edges(_events(spark, sf_dir)).withColumn(
        "weight",
        (
            F.lit(1) + F.pmod(F.col("src") + F.col("dst"), F.lit(3))
        ).cast("double"),
    )
    res = pagerank(
        edges,
        config=PageRankConfig(tol=0.0, max_iter=20),
        weight_col="weight",
    )
    return (
        res.ranks.select("id", F.round("rank", 9).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("id"))
        .limit(20)
    )


def _q_pagerank_decayed10(spark, sf_dir):
    """Time-decayed PageRank (10 fixed iterations): edge weight =
    H/(H + age_us) of the SOURCE event (hyperbolic recency decay, exact
    integer epoch-microsecond arithmetic — see
    sources/events.py decayed_event_edges for why not exp); rank flows
    proportionally to weight/Σweights(src). The transcripts-payload tie-
    in: recent conversational activity ranks higher."""
    from parallel_pagerank_spark.config import PageRankConfig
    from parallel_pagerank_spark.operators.pagerank import pagerank
    from parallel_pagerank_spark.sources.events import decayed_event_edges

    res = pagerank(
        decayed_event_edges(_events(spark, sf_dir)),
        config=PageRankConfig(tol=0.0, max_iter=10),
        weight_col="weight",
    )
    return (
        res.ranks.select("id", F.round("rank", 9).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("id"))
        .limit(20)
    )


def _q_salsa(spark, sf_dir):
    """SALSA authority scores (Lempel & Moran WWW'00) over the
    reply∪handoff graph via the paper's closed form — one bipartite
    connected-components run + two aggregations, no power iteration
    (operators/salsa.py). Scores are one exact-integer-product IEEE
    division each, rounded 9."""
    from parallel_pagerank_spark.operators.salsa import salsa_scores
    from parallel_pagerank_spark.sources.events import event_graph_edges

    out = salsa_scores(event_graph_edges(_events(spark, sf_dir)))
    return out.select("id", F.round("score", 9).alias("score"))


def _q_clustering_coefficient(spark, sf_dir):
    from parallel_pagerank_spark.operators.stats import (
        clustering_coefficient,
    )
    from parallel_pagerank_spark.sources.events import cooccurrence_edges

    cc = clustering_coefficient(
        cooccurrence_edges(_events(spark, sf_dir), window=2)
    )
    return cc.select(
        "id",
        "triangles",
        "degree",
        F.round("coefficient", 6).alias("coefficient"),
    )


def _q_isolated_count(spark, sf_dir):
    from parallel_pagerank_spark.operators.stats import isolated_vertices
    from parallel_pagerank_spark.sources.events import event_graph_edges

    return isolated_vertices(
        event_graph_edges(_events(spark, sf_dir))
    ).agg(F.count("*").alias("isolated_count"))


def _q_scale_free(spark, sf_dir):
    from parallel_pagerank_spark.operators.stats import scale_free_heuristic
    from parallel_pagerank_spark.sources.events import event_graph_edges

    return scale_free_heuristic(
        event_graph_edges(_events(spark, sf_dir))
    ).select(
        "max_degree",
        F.round("avg_degree", 9).alias("avg_degree"),
        "near_max_hubs",
        "looks_scale_free",
    )


def _q_emb_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup via the LSH scale path: identical vectors
    collide in every SRP table, so on this data (natural max cosine ~0.5,
    injected exact copies at 1.0) LSH output == exact all-pairs — letting
    the scale path itself be checked against the brute-force SQL oracle.

    DATA PRECONDITION (parity, not correctness): the testdata's natural
    pairs must stay below the 0.9 threshold. If a regenerated dataset
    ever contains a NATURAL pair >= 0.9, LSH recall < 1 on that pair
    would surface here as an oracle mismatch — that is a data-precondition
    violation to re-check first, not an engine regression (the engine's
    recall behavior is separately gated in tests/test_functions.py)."""
    from parallel_pagerank_spark.functions.dedup import embedding_near_dups

    emb = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    dup = (
        emb.orderBy("vec_id")
        .limit(30)
        .select((F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding")
    )
    pairs = embedding_near_dups(
        emb.unionByName(dup), threshold=0.9, method="lsh"
    )
    return pairs.select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    )


def _q_doc_quality_score(spark, sf_dir):
    from parallel_pagerank_spark.functions.text import quality_score

    return _documents(spark, sf_dir).select(
        "doc_id", quality_score("text").alias("quality")
    )


def _q_k_core(spark, sf_dir):
    """k=2 core of the window-2 co-occurrence graph with a deterministic
    ~1/7 of edges removed ((src+dst) % 7 == 0): the unfiltered graph is
    degree-regular (every vertex already has degree >= 2 — zero peeling),
    so the filter is what makes the query actually exercise synchronous
    peeling (measured: 3 rounds at sf0.001, 5 at sf0.01, NON-empty core)
    while keeping the round count far under the unrolled oracle's depth."""
    from parallel_pagerank_spark.operators.kcore import k_core
    from parallel_pagerank_spark.sources.events import cooccurrence_edges

    co = cooccurrence_edges(_events(spark, sf_dir), window=2).filter(
        (F.col("src") + F.col("dst")) % 7 != 0
    )
    return k_core(co, k=2).core


def _q_pagerank_personalized20(spark, sf_dir):
    """Fixed-iteration PERSONALIZED PageRank: deterministic per-vertex
    teleport weights 1 + id % 5 (integer-valued doubles, so the
    normalization sum is exact in both engines), 20 power iterations —
    oracle-checked against the unrolled teleport-vector power iteration.
    p' = d·(contrib + S·v) + (1−d)·v with v = w / Σw."""
    from parallel_pagerank_spark.config import PageRankConfig
    from parallel_pagerank_spark.operators.graph import vertices_from_edges
    from parallel_pagerank_spark.operators.pagerank import pagerank
    from parallel_pagerank_spark.sources.events import event_graph_edges

    edges = event_graph_edges(_events(spark, sf_dir))
    tele = vertices_from_edges(edges).select(
        "id",
        (F.lit(1) + F.pmod(F.col("id"), F.lit(5)))
        .cast("double")
        .alias("weight"),
    )
    res = pagerank(
        edges, teleport=tele, config=PageRankConfig(tol=0.0, max_iter=20)
    )
    return (
        res.ranks.select("id", F.round("rank", 9).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("id"))
        .limit(20)
    )


def _q_session_window(spark, sf_dir):
    """Spark-native session_window stats, boundaries exported as exact
    epoch-MICROsecond longs (the events ts column has sub-second
    precision; integer microsecond arithmetic is hash-exact across
    engines, unlike timestamp rendering)."""
    from parallel_pagerank_spark.functions.sessions import (
        session_window_stats,
    )

    sw = session_window_stats(_events(spark, sf_dir), gap="30 minutes")
    # events.ts is TIMESTAMP_NTZ; the session runs in UTC so the cast to
    # TIMESTAMP is an identity on the stored microseconds (matches
    # DuckDB's epoch_us on the same naive value)
    return sw.select(
        "user_id",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias(
            "start_us"
        ),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias(
            "end_us"
        ),
        "n_events",
    )


# rows-only (convergence-driven / hash-based — no single-SQL equivalent;
# verified against NumPy oracles in tests/):
#   pagerank_top20     — stops at L1 < 1e-6, iteration count data-dependent
#                        (the fixed-iteration variant pagerank_fixed20 IS
#                        oracle-checked)
#   minhash_near_dups, simhash — signatures built on pd.util.hash_array
#                        (pandas' 64-bit string hash has no DuckDB
#                        equivalent); accuracy gated in pytest vs exact
#                        Jaccard / Hamming instead
#   knn_lsh            — SRP bucket assignment depends on the same numpy
#                        RNG projections; recall gated in pytest
#   knn_ivf            — IVF cell assignment comes from a driver-side
#                        seeded numpy k-means (no DuckDB equivalent of the
#                        iterative centroid fit); recall vs brute-force
#                        gated in pytest (tests/test_functions.py)


def _q_pagerank_top20(spark, sf_dir):
    from parallel_pagerank_spark.config import PageRankConfig
    from parallel_pagerank_spark.operators.pagerank import (
        pagerank,
        top_k_ranks,
    )
    from parallel_pagerank_spark.sources.events import event_graph_edges

    edges = event_graph_edges(_events(spark, sf_dir))
    res = pagerank(edges, config=PageRankConfig(tol=1e-6, max_iter=150))
    return top_k_ranks(res.ranks, 20)


def _q_connected_components(spark, sf_dir):
    from parallel_pagerank_spark.operators.components import (
        large_star_small_star,
    )
    from parallel_pagerank_spark.sources.events import event_graph_edges

    res = large_star_small_star(event_graph_edges(_events(spark, sf_dir)))
    return (
        res.components.groupBy("component")
        .agg(F.count("*").alias("size"))
        .orderBy(F.desc("size"), F.asc("component"))
    )


def _q_label_propagation(spark, sf_dir):
    from parallel_pagerank_spark.operators.labelprop import label_propagation
    from parallel_pagerank_spark.sources.events import event_graph_edges

    res = label_propagation(
        event_graph_edges(_events(spark, sf_dir)), max_iter=5
    )
    return (
        res.labels.groupBy("label")
        .agg(F.count("*").alias("size"))
        .orderBy(F.desc("size"), F.asc("label"))
    )


def _q_minhash_near_dups(spark, sf_dir):
    from parallel_pagerank_spark.functions.dedup import minhash_lsh_dedup

    docs = _documents(spark, sf_dir)
    dup = docs.limit(50).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    return minhash_lsh_dedup(
        docs.select("doc_id", "text").unionByName(dup), threshold=0.8
    )


def _q_simhash(spark, sf_dir):
    from parallel_pagerank_spark.functions.dedup import simhash

    return simhash(_documents(spark, sf_dir))


def _q_knn_lsh(spark, sf_dir):
    from parallel_pagerank_spark.functions.similarity import cosine_topk_lsh

    emb = _embeddings(spark, sf_dir)
    dim = len(emb.first()["embedding"])
    queries = emb.orderBy("vec_id").limit(8)
    return cosine_topk_lsh(emb, queries, dim=dim, k=5, nbits=6).select(
        "query_id", "neighbor_id", "rnk"
    )


def _q_knn_ivf(spark, sf_dir):
    from parallel_pagerank_spark.functions.similarity import cosine_topk_ivf

    emb = _embeddings(spark, sf_dir)
    dim = len(emb.first()["embedding"])
    queries = emb.orderBy("vec_id").limit(8)
    return cosine_topk_ivf(
        emb, queries, dim=dim, k=5, n_cells=8, n_probe=3
    ).select("query_id", "neighbor_id", "rnk")


def _q_sessionize(spark, sf_dir):
    from parallel_pagerank_spark.functions.sessions import sessionize

    return sessionize(_events(spark, sf_dir), gap_seconds=1800)


def _q_session_stats(spark, sf_dir):
    from parallel_pagerank_spark.functions.sessions import session_stats

    return session_stats(_events(spark, sf_dir), gap_seconds=1800)


def _q_neighbor_degree(spark, sf_dir):
    """Degree correlation: for each source out-degree value, the average
    in-degree of the destinations reached from sources of that degree."""
    from parallel_pagerank_spark.operators.graph import (
        in_degrees,
        out_degrees,
    )
    from parallel_pagerank_spark.sources.events import event_graph_edges

    e = event_graph_edges(_events(spark, sf_dir))
    od = out_degrees(e).withColumnRenamed("id", "src")
    ind = in_degrees(e).withColumnRenamed("id", "dst")
    return (
        e.join(od, "src")
        .join(ind, "dst")
        .groupBy("out_deg")
        .agg(
            F.count("*").alias("n_edges"),
            F.round(F.avg("in_deg"), 6).alias("avg_neighbor_in_deg"),
        )
    )


def _q_doc_shingles(spark, sf_dir):
    from parallel_pagerank_spark.functions.dedup import char_shingles

    return _documents(spark, sf_dir).select(
        "doc_id",
        F.size(char_shingles(F.col("text"), 5)).alias("n_shingles"),
    )



def _q_hits10(spark, sf_dir):
    """Fixed-iteration HITS (10 rounds, L1-normalized — see
    operators/hits.py): top-20 authorities with their hub scores, rounded
    to 9 decimals to absorb cross-engine summation-order float noise;
    ORDER BY the rounded value so the limit-20 cutoff is deterministic in
    both engines."""
    from parallel_pagerank_spark.operators.hits import hits
    from parallel_pagerank_spark.sources.events import event_graph_edges

    res = hits(event_graph_edges(_events(spark, sf_dir)), max_iter=10)
    s = res.scores.select(
        "id",
        F.round("hub", 9).alias("hub"),
        F.round("authority", 9).alias("authority"),
    )
    return s.orderBy(F.desc("authority"), F.asc("id")).limit(20)


def _q_bfs_distance(spark, sf_dir):
    """Bounded multi-source BFS (8 hops) from the deterministic source set
    event_id % 97 == 0, over the directed reply∪handoff graph; reports
    the hop-distance histogram. All-integer — hash-exact vs the unrolled
    8-round frontier chain."""
    from parallel_pagerank_spark.operators.bfs import (
        bfs_distances,
        distance_histogram,
    )
    from parallel_pagerank_spark.sources.events import event_graph_edges

    ev = _events(spark, sf_dir)
    sources = ev.filter(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("id")
    )
    res = bfs_distances(event_graph_edges(ev), sources, max_hops=8)
    return distance_histogram(res)


def _q_doc_tfidf(spark, sf_dir):
    """Full per-(doc, term) TF-IDF table (no top-k: rank-free output keeps
    the comparison order-insensitive, so cross-engine ln() ulp noise
    cannot flip a cutoff — values themselves are rounded to 6)."""
    from parallel_pagerank_spark.functions.text import tf_idf

    out = tf_idf(_documents(spark, sf_dir))
    return out.select(
        "doc_id", "term", "tf", F.round("tfidf", 6).alias("tfidf")
    )


def _q_doc_dedup_map(spark, sf_dir):
    from parallel_pagerank_spark.functions.dedup import exact_dedup_mapping

    return exact_dedup_mapping(_documents(spark, sf_dir))


def _q_emb_centroids(spark, sf_dir):
    from parallel_pagerank_spark.functions.similarity import (
        embedding_centroids,
    )

    c = embedding_centroids(_embeddings(spark, sf_dir))
    return c.select(
        F.col("group").alias("label"),
        F.col("pos").cast("long").alias("pos"),
        F.round("centroid_val", 6).alias("centroid_val"),
        "n_vectors",
    )


def _q_sssp_bounded(spark, sf_dir):
    """Bounded weighted SSSP (6 Bellman-Ford rounds — operators/paths.py)
    from the deterministic source set event_id % 97 == 0, over the
    reply∪handoff graph with deterministic integer-valued weights
    1 + (src+dst) % 5. Integer weights make every min-plus sum exact in
    IEEE double, so the full reached set is hash-exact vs the unrolled
    dense-relaxation oracle (no rounding needed)."""
    from parallel_pagerank_spark.operators.paths import sssp_distances
    from parallel_pagerank_spark.sources.events import event_graph_edges

    ev = _events(spark, sf_dir)
    edges = event_graph_edges(ev).select(
        "src",
        "dst",
        (F.lit(1) + F.pmod(F.col("src") + F.col("dst"), F.lit(5)))
        .cast("double")
        .alias("w"),
    )
    sources = ev.filter(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("id")
    )
    res = sssp_distances(edges, sources, weight_col="w", max_rounds=6)
    return res.distances


def _q_reciprocity(spark, sf_dir):
    from parallel_pagerank_spark.operators.stats import reciprocity
    from parallel_pagerank_spark.sources.events import event_graph_edges

    r = reciprocity(event_graph_edges(_events(spark, sf_dir)))
    return r.select(
        "n_edges", "n_reciprocal", F.round("reciprocity", 9).alias("reciprocity")
    )


def _q_assortativity(spark, sf_dir):
    """Out-in degree assortativity of the reply∪handoff graph, rounded to
    6 decimals (corr accumulates float sums whose order differs across
    engines)."""
    from parallel_pagerank_spark.operators.stats import degree_assortativity
    from parallel_pagerank_spark.sources.events import event_graph_edges

    a = degree_assortativity(event_graph_edges(_events(spark, sf_dir)))
    return a.select(
        "n_edges", F.round("assortativity", 6).alias("assortativity")
    )


def _q_component_sizes(spark, sf_dir):
    """Component-size distribution (size, n_components) on top of the
    same LSSS labeling the connected_components row checks — verifies
    the labeling is consistent at the histogram level too."""
    from parallel_pagerank_spark.operators.components import (
        large_star_small_star,
    )
    from parallel_pagerank_spark.operators.stats import (
        component_size_distribution,
    )
    from parallel_pagerank_spark.sources.events import event_graph_edges

    res = large_star_small_star(event_graph_edges(_events(spark, sf_dir)))
    return component_size_distribution(res.components)


def _q_tool_stats(spark, sf_dir):
    """Per-tool activity profile; mean_value rounded to 6 (float sum
    order differs across engines), timestamps as exact epoch micros."""
    from parallel_pagerank_spark.sources.events import tool_stats

    t = tool_stats(_events(spark, sf_dir))
    return t.select(
        "event_type",
        "n_events",
        "n_users",
        "first_us",
        "last_us",
        F.round("mean_value", 6).alias("mean_value"),
    )


def _q_conv_stats(spark, sf_dir):
    from parallel_pagerank_spark.sources.events import conversation_stats

    return conversation_stats(_events(spark, sf_dir))


def _q_top_terms(spark, sf_dir):
    """Top-50 vocabulary terms by document frequency; the (df, total_tf,
    term) order key is all-integer/lexicographic, so the cutoff is
    deterministic in both engines."""
    from parallel_pagerank_spark.functions.text import term_stats

    t = term_stats(_documents(spark, sf_dir))
    return t.orderBy(
        F.desc("df"), F.desc("total_tf"), F.asc("term")
    ).limit(50)


def _q_cocitation(spark, sf_dir):
    """Co-citation pairs (Small '73): events whose pages share a citing
    src in the reply∪handoff graph — all-integer, hash-exact. The
    degree cap (operators/linkanalysis.py) is never hit at this SF
    (out-degrees ≤ 2), so the oracle applies the same cap harmlessly."""
    from parallel_pagerank_spark.operators.linkanalysis import (
        common_neighbor_pairs,
    )
    from parallel_pagerank_spark.sources.events import event_graph_edges

    return common_neighbor_pairs(
        event_graph_edges(_events(spark, sf_dir)), mode="cocitation"
    )


def _q_coupling(spark, sf_dir):
    """Bibliographic-coupling pairs (Kessler '63): events sharing a cited
    dst — the in-direction dual of cocitation."""
    from parallel_pagerank_spark.operators.linkanalysis import (
        common_neighbor_pairs,
    )
    from parallel_pagerank_spark.sources.events import event_graph_edges

    return common_neighbor_pairs(
        event_graph_edges(_events(spark, sf_dir)), mode="coupling"
    )


def _q_walks8(spark, sf_dir):
    """Deterministic 8-hop walks (operators/walks.py min-selector — pure
    modular arithmetic, so both engines pick identical hops) from the
    same source set the BFS row uses; all-integer rows, hash-exact."""
    from parallel_pagerank_spark.operators.walks import deterministic_walks
    from parallel_pagerank_spark.sources.events import event_graph_edges

    ev = _events(spark, sf_dir)
    sources = ev.filter(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("id")
    )
    res = deterministic_walks(
        event_graph_edges(ev), sources, walk_length=8
    )
    return res.walks


def _q_walk_transitions(spark, sf_dir):
    """Edge-traversal counts across the walks8 corpus — the skip-gram
    co-occurrence statistics an embedding trainer consumes."""
    from parallel_pagerank_spark.operators.walks import (
        deterministic_walks,
        walk_transitions,
    )
    from parallel_pagerank_spark.sources.events import event_graph_edges

    ev = _events(spark, sf_dir)
    sources = ev.filter(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("id")
    )
    res = deterministic_walks(
        event_graph_edges(ev), sources, walk_length=8
    )
    return walk_transitions(res)


def _q_nbhd_sketch4(spark, sf_dir):
    """Per-vertex FM ball sketches after 4 supersteps
    (operators/neighborhood.py — HyperBall with deterministic
    Flajolet-Martin registers, so every register is reproducible integer
    arithmetic and the unrolled bit_or oracle hash-matches exactly)."""
    from parallel_pagerank_spark.operators.neighborhood import (
        neighborhood_sketches,
    )
    from parallel_pagerank_spark.sources.events import event_graph_edges

    return neighborhood_sketches(
        event_graph_edges(_events(spark, sf_dir)), max_rounds=4
    ).sketches


def _q_nbhd_growth8(spark, sf_dir):
    """Neighborhood-function growth curve: (superstep, total set
    register bits) for t = 0..8 — the integer-exact proxy for N(t) the
    effective-diameter readout uses. If the sketches hit their fixpoint
    before round 8 the final total is carried forward (OR idempotence
    makes the padding semantically exact), keeping the row count fixed
    so the unrolled oracle aligns."""
    from pyspark.sql.types import LongType, StructField, StructType

    from parallel_pagerank_spark.operators.neighborhood import (
        neighborhood_sketches,
    )
    from parallel_pagerank_spark.sources.events import event_graph_edges

    rounds = 8
    res = neighborhood_sketches(
        event_graph_edges(_events(spark, sf_dir)), max_rounds=rounds
    )
    rows = [(g["superstep"], g["total_bits"]) for g in res.growth]
    while len(rows) < rounds + 1:
        rows.append((rows[-1][0] + 1, rows[-1][1]))
    return spark.createDataFrame(
        rows,
        StructType(
            [
                StructField("superstep", LongType()),
                StructField("total_bits", LongType()),
            ]
        ),
    )


def _q_katz20(spark, sf_dir):
    """Fixed-iteration Katz centrality (20 rounds, alpha=0.05, beta=1.0 —
    operators/katz.py): top-20 by rounded score. Ranks rounded to 9
    decimals to absorb summation-order float noise; ORDER BY the rounded
    value so the limit-20 cutoff is deterministic in both engines."""
    from parallel_pagerank_spark.operators.katz import katz_centrality
    from parallel_pagerank_spark.sources.events import event_graph_edges

    res = katz_centrality(
        event_graph_edges(_events(spark, sf_dir)),
        alpha=0.05,
        beta=1.0,
        max_iter=20,
    )
    return (
        res.scores.select("id", F.round("katz", 9).alias("katz"))
        .orderBy(F.desc("katz"), F.asc("id"))
        .limit(20)
    )


def _q_landmark_dist4(spark, sf_dir):
    """Labeled landmark BFS (operators/bfs.py landmark_distances): hop
    distance to EACH landmark (event_id % 997 == 0) within 4 hops —
    the distance-oracle building block. All-integer rows (id, landmark,
    dist) → hash-exact vs the unrolled labeled-frontier chain."""
    from parallel_pagerank_spark.operators.bfs import landmark_distances
    from parallel_pagerank_spark.sources.events import event_graph_edges

    ev = _events(spark, sf_dir)
    landmarks = ev.filter(F.col("event_id") % 997 == 0).select(
        F.col("event_id").alias("id")
    )
    res = landmark_distances(event_graph_edges(ev), landmarks, max_hops=4)
    return res.distances


def _q_harmonic4(spark, sf_dir):
    """Bounded outward harmonic centrality per landmark (sum of 1/dist
    over the 4-hop ball, Boldi & Vigna's truncated variant) — readout
    aggregation over the same landmark BFS landmark_dist4 checks. The
    1/dist terms are dyadic-or-small rationals summed in different
    orders across engines, so the sum is rounded to 9."""
    from parallel_pagerank_spark.operators.bfs import (
        harmonic_centrality,
        landmark_distances,
    )
    from parallel_pagerank_spark.sources.events import event_graph_edges

    ev = _events(spark, sf_dir)
    landmarks = ev.filter(F.col("event_id") % 997 == 0).select(
        F.col("event_id").alias("id")
    )
    res = landmark_distances(event_graph_edges(ev), landmarks, max_hops=4)
    h = harmonic_centrality(res)
    return h.select(
        "landmark", F.round("harmonic", 9).alias("harmonic"), "n_reached"
    )


def _q_closeness4(spark, sf_dir):
    """Bounded outward closeness per landmark (operators/bfs.py
    closeness_centrality — truncated reachable-set closeness): readout
    over the same landmark BFS as landmark_dist4/harmonic4. Count and
    distance sum exact int64; closeness is ONE IEEE division, so no
    rounding is needed for the hash check."""
    from parallel_pagerank_spark.operators.bfs import (
        closeness_centrality,
        landmark_distances,
    )
    from parallel_pagerank_spark.sources.events import event_graph_edges

    ev = _events(spark, sf_dir)
    landmarks = ev.filter(F.col("event_id") % 997 == 0).select(
        F.col("event_id").alias("id")
    )
    res = landmark_distances(event_graph_edges(ev), landmarks, max_hops=4)
    return closeness_centrality(res)


def _q_ngram_jaccard(spark, sf_dir):
    """EXACT char-5-gram Jaccard similarity join at threshold 0.9
    (functions/dedup.py jaccard_similarity_join): the prefix-filtered
    scale path is checked hash-exactly against the plain inverted-index
    oracle — different plan, same definition, NO false negatives to
    hide behind (unlike the rows-only MinHash row)."""
    from parallel_pagerank_spark.functions.dedup import (
        jaccard_similarity_join,
    )

    pairs = jaccard_similarity_join(
        _documents(spark, sf_dir), threshold=0.9
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 9).alias("jaccard")
    )


def _q_near_dup_clusters(spark, sf_dir):
    """Near-dup clustering: exact Jaccard pairs (threshold 0.9) →
    connected components → (doc_id, cluster_id = min doc_id of the
    cluster). All-integer output, hash-exact vs the pair CTE + unrolled
    min-label propagation (measured cluster eccentricity at both gate
    SFs is 1; the oracle unrolls 6 rounds — fixpoints are stable under
    extra rounds)."""
    from parallel_pagerank_spark.functions.dedup import near_dup_clusters

    return near_dup_clusters(_documents(spark, sf_dir), threshold=0.9)


def _q_doc_repetition(spark, sf_dir):
    """Word/bigram repetition signals (functions/text.py
    repetition_signals — the Gopher-style repetition quality family).
    Fractions are single IEEE divisions of exact int64 counts —
    correctly rounded, hence bit-identical in every IEEE-754 engine —
    so they are emitted RAW. (Rounding them was the r4 driver-hash
    hazard: a bit-identical quotient can straddle a decimal rounding
    boundary that two engines' round() resolve differently; the raw
    quotient cannot. Same discipline as salsa/hot_users/closeness4.)"""
    from parallel_pagerank_spark.functions.text import repetition_signals

    r = repetition_signals(_documents(spark, sf_dir))
    return r.select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        "dup_word_frac",
        "top_word_frac",
        "top_bigram_frac",
    )


def _q_modularity_lpa5(spark, sf_dir):
    """Newman modularity of the 5-step label-propagation labeling on the
    reply∪handoff graph — the quality readout for the labeling the
    label_propagation row already hash-checks. Per-community terms are
    identical in both engines; only the final Σ over ~2k communities
    differs in float order → rounded to 6. Counts are exact."""
    from parallel_pagerank_spark.operators.labelprop import (
        label_propagation,
    )
    from parallel_pagerank_spark.operators.stats import modularity
    from parallel_pagerank_spark.sources.events import event_graph_edges

    edges = event_graph_edges(_events(spark, sf_dir))
    res = label_propagation(edges, max_iter=5)
    q = modularity(edges, res.labels)
    return q.select(
        F.round("modularity", 6).alias("modularity"),
        "n_communities",
        "intra_edges",
        "m_edges",
    )


def _q_powerlaw_alpha(spark, sf_dir):
    """Continuous MLE power-law exponent of the total-degree tail
    (xmin=2 keeps degree-1 vertices out of the fit, the usual choice
    when the head is known to be non-power-law). alpha divides by a
    Σ ln(d) whose summation order differs across engines → rounded 6."""
    from parallel_pagerank_spark.operators.stats import powerlaw_alpha
    from parallel_pagerank_spark.sources.events import event_graph_edges

    a = powerlaw_alpha(event_graph_edges(_events(spark, sf_dir)), xmin=2)
    return a.select("n_tail", F.round("alpha", 6).alias("alpha"))


def _q_doc_profile(spark, sf_dir):
    """Per-column completeness/cardinality/range profile of the documents
    table (functions/profile.py) — exact mode, all-integer/string →
    hash-exact."""
    from parallel_pagerank_spark.functions.profile import profile_table

    return profile_table(_documents(spark, sf_dir))


def _q_k_truss3(spark, sf_dir):
    """3-truss of the mod-7-filtered window-2 co-occurrence graph
    (operators/truss.py): every surviving edge closes >= 1 triangle
    INSIDE the truss. The filter matters for the same reason as k_core:
    the unfiltered graph is already a 3-truss (zero peeling), the
    filtered one peels for 2 measured rounds at both gate SFs and keeps
    a non-empty truss. All-integer (u, v, support) → hash-exact vs the
    4-round unrolled peeling oracle."""
    from parallel_pagerank_spark.operators.truss import k_truss
    from parallel_pagerank_spark.sources.events import cooccurrence_edges

    co = cooccurrence_edges(_events(spark, sf_dir), window=2).filter(
        (F.col("src") + F.col("dst")) % 7 != 0
    )
    return k_truss(co, k=3).truss_edges


def _q_pr_convergence10(spark, sf_dir):
    """Per-iteration PageRank convergence metrics (the reference's D3
    max-error and D4 L1-norm stdout stream, pagerank_mpi.c:215-217, as
    driver-checkable ROWS): 10 fixed iterations, (iteration, l1,
    max_err). l1 accumulates ~N float terms whose summation order
    differs across engines → rounded to 6; max_err is a single
    per-vertex |diff| (no accumulation) → rounded to 9."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from parallel_pagerank_spark.config import PageRankConfig
    from parallel_pagerank_spark.operators.pagerank import pagerank
    from parallel_pagerank_spark.sources.events import event_graph_edges

    res = pagerank(
        event_graph_edges(_events(spark, sf_dir)),
        config=PageRankConfig(tol=0.0, max_iter=10),
    )
    rows = [
        (int(m["iteration"]), round(m["l1"], 6), round(m["max_err"], 9))
        for m in res.metrics
    ]
    return spark.createDataFrame(
        rows,
        StructType(
            [
                StructField("iteration", LongType()),
                StructField("l1", DoubleType()),
                StructField("max_err", DoubleType()),
            ]
        ),
    )


def _q_emb_quantize(spark, sf_dir):
    """SQ8 scalar quantization (functions/similarity.scalar_quantize):
    integer codes (hash-exact, joined to a string like the adjacency
    row) + reconstruction MSE. The (v-lo)/scale doubles are IEEE-
    deterministic and floor() has no half-way ties, so codes match
    bit-for-bit; mse is a short per-vector sum → rounded to 9."""
    from parallel_pagerank_spark.functions.similarity import (
        scalar_quantize,
    )

    q = scalar_quantize(_embeddings(spark, sf_dir), bits=8)
    return q.select(
        "vec_id",
        F.concat_ws(",", F.col("codes")).alias("codes"),
        F.round("mse", 9).alias("mse"),
    )


def _q_top_docs_per_lang(spark, sf_dir):
    """Top-3 documents per language by quality score — the per-group
    top-k window pattern (rank over the ROUNDED score with doc_id
    tie-break, so the cutoff is deterministic in both engines)."""
    from pyspark.sql import Window

    from parallel_pagerank_spark.functions.text import quality_score

    d = _documents(spark, sf_dir).select(
        "lang",
        "doc_id",
        F.round(quality_score("text"), 6).alias("quality"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        d.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("lang", "doc_id", "quality", "rnk")
    )


def _q_dataset_split(spark, sf_dir):
    """Deterministic train/valid/test assignment (functions/splits.py):
    portable multiplicative hash, bit-identical in Spark and DuckDB."""
    from parallel_pagerank_spark.functions.splits import assign_split

    return assign_split(_documents(spark, sf_dir), id_col="doc_id").select(
        "doc_id", "split"
    )


def _q_bigram_lift(spark, sf_dir):
    """Corpus collocations by lift (log-free PMI core — functions/text.py
    bigram_lift): exact integer counts + one IEEE division chain, so the
    DuckDB oracle hash-matches with no float tolerance."""
    from parallel_pagerank_spark.functions.text import bigram_lift

    return bigram_lift(_documents(spark, sf_dir), min_pair_count=5)


def _q_scc(spark, sf_dir):
    """Strongly connected components (operators/scc.py coloring peel) on
    a cyclic link graph: the user_id % 30 == 0 subset's reply chains are
    closed into per-user rings by wrap_edges, plus handoff links. The
    DuckDB oracle is an independent formulation — recursive-CTE
    transitive closure, scc(v) = least(v, min u with u->v and v->u) —
    feasible because the filtered subgraph bounds closure size."""
    from parallel_pagerank_spark.operators.scc import (
        strongly_connected_components,
    )
    from parallel_pagerank_spark.sources.events import (
        handoff_edges,
        reply_edges,
        wrap_edges,
    )

    ev = _events(spark, sf_dir).filter((F.col("user_id") % 30) == 0)
    edges = (
        reply_edges(ev)
        .unionByName(handoff_edges(ev))
        .unionByName(wrap_edges(ev))
    )
    res = strongly_connected_components(edges)
    return res.components.select("id", "scc")


def _q_scc_dag(spark, sf_dir):
    """Condensation DAG of the scc query's subgraph: one row per ordered
    SCC pair with a cross-edge (operators/scc.condensation_edges).
    Edges deduped first to match the oracle's DISTINCT edge set."""
    from parallel_pagerank_spark.operators.scc import (
        condensation_edges,
        strongly_connected_components,
    )
    from parallel_pagerank_spark.sources.events import (
        handoff_edges,
        reply_edges,
        wrap_edges,
    )

    ev = _events(spark, sf_dir).filter((F.col("user_id") % 30) == 0)
    # rings for only half the users (% 60): full wraps collapse the whole
    # subgraph into one SCC and the condensation would be empty
    edges = (
        reply_edges(ev)
        .unionByName(handoff_edges(ev))
        .unionByName(wrap_edges(ev.filter((F.col("user_id") % 60) == 0)))
        .distinct()
    )
    res = strongly_connected_components(edges)
    return condensation_edges(edges, res.components)


def _q_doc_quantiles(spark, sf_dir):
    """Exact interpolated n_chars quantiles (functions/profile.py
    column_quantiles): Spark percentile and DuckDB quantile_cont share
    the linear-interpolation definition — bit-identical doubles."""
    from parallel_pagerank_spark.functions.profile import column_quantiles

    return column_quantiles(_documents(spark, sf_dir), "n_chars")


def _q_pseudo_diameter(spark, sf_dir):
    """Bounded double-sweep diameter lower bound (operators/bfs.py
    pseudo_diameter): BFS from min(src), re-BFS from the farthest vertex
    (ties -> min id). Oracle = the same two sweeps unrolled."""
    from parallel_pagerank_spark.operators.bfs import pseudo_diameter
    from parallel_pagerank_spark.sources.events import event_graph_edges

    return pseudo_diameter(event_graph_edges(_events(spark, sf_dir)), max_hops=6)


_SAMPLE_RATES = {"en": 0.5, "de": 0.25, "zh": 0.1}


def _q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum corpus sampling (functions/splits.py
    stratified_sample): keep-set is a pure function of (doc_id, salt)
    via the portable multiplicative hash, so the oracle reproduces it
    bit-exactly; strata missing from the rate map (fr/es) fail closed."""
    from parallel_pagerank_spark.functions.splits import stratified_sample

    return stratified_sample(
        _documents(spark, sf_dir), "lang", _SAMPLE_RATES
    ).select("doc_id", "lang")


def _q_decontaminate(spark, sf_dir):
    """Train/eval n-gram decontamination (functions/decontam.py): split
    the corpus with the portable-hash assign_split, then report every
    train doc sharing a word 4-gram with any test doc. key='text' is
    the SQL-portable tier the oracle checks; key='hash64' is the
    fixed-width-shuffle scale tier (pytest-verified identical)."""
    from parallel_pagerank_spark.functions.decontam import (
        ngram_contamination,
    )
    from parallel_pagerank_spark.functions.splits import assign_split

    docs = assign_split(_documents(spark, sf_dir))
    train = docs.filter(F.col("split") == "train")
    test = docs.filter(F.col("split") == "test")
    return ngram_contamination(train, test, n=4, key="text")


def _q_doc_entropy(spark, sf_dir):
    """Per-doc unigram Shannon entropy (functions/text.py
    token_entropy). Integer token counts are hash-exact. The two float
    columns are rounded to 6, and since r5 the underlying ln-sum is an
    ORDER-DETERMINISTIC fold over the sorted count multiset (both in
    the engine and in the oracle), so the rounded value is a fixed
    property of the data rather than of Spark's partition combine
    order — the r4 driver-hash flake. Residual cross-engine noise is
    the 1-ulp libm ln() spread (JVM Math.log vs DuckDB's libm differ
    on ~1% of integer inputs), absorbed by round(6);
    tests/test_text_quality.py pins a wide margin between every value
    and its nearest rounding boundary at both gate SFs."""
    from parallel_pagerank_spark.functions.text import token_entropy

    out = token_entropy(_documents(spark, sf_dir))
    return out.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.round("entropy", 6).alias("entropy"),
        F.round("entropy_ratio", 6).alias("entropy_ratio"),
    )


def _q_topo_levels(spark, sf_dir):
    """Bounded topological levels (operators/scc.py topological_levels)
    on the forward-edge DAG (src < dst on event ids — acyclic by
    construction) of the user_id % 30 subgraph. k bounded rounds of
    monotone max-relaxation compute exactly min(longest-path-depth, k)
    per vertex — the saturated dependency depth, the same bounded-query
    contract as bfs_distance/sssp_bounded. Oracle = k unrolled
    full-relaxation rounds (integer-exact)."""
    from parallel_pagerank_spark.operators.scc import topological_levels
    from parallel_pagerank_spark.sources.events import (
        handoff_edges,
        reply_edges,
    )

    ev = _events(spark, sf_dir).filter((F.col("user_id") % 30) == 0)
    e = (
        reply_edges(ev)
        .unionByName(handoff_edges(ev))
        .filter(F.col("src") < F.col("dst"))
        .distinct()
    )
    res = topological_levels(e, src_col="src", dst_col="dst", max_iter=10)
    return res.levels


def _q_subgraph_sample(spark, sf_dir):
    """Deterministic vertex-induced subgraph sample (operators/graph.py
    sample_subgraph): keep a vertex iff portable-bucket < 0.3·2^32, an
    edge iff both endpoints kept. Multi-edges of the reply∪handoff
    graph are preserved (multiset compare). Pure predicate — the oracle
    is the same WHERE clause."""
    from parallel_pagerank_spark.operators.graph import sample_subgraph
    from parallel_pagerank_spark.sources.events import event_graph_edges

    return sample_subgraph(
        event_graph_edges(_events(spark, sf_dir)), 0.3
    )


def _q_quality_filter(spark, sf_dir):
    """Per-language quality-percentile cutoff (functions/profile.py
    percentile_filter, exact window tier): drop the bottom quartile per
    lang by quality_score, ties broken by doc_id. pct is the exact
    rational (rank−1)/(n−1) — IEEE-identical across engines given the
    already-oracle-matched quality values."""
    from parallel_pagerank_spark.functions.profile import percentile_filter
    from parallel_pagerank_spark.functions.text import quality_score

    docs = _documents(spark, sf_dir)
    out = percentile_filter(
        docs, quality_score("text"), "lang", 0.25, id_col="doc_id"
    )
    return out.select(
        "doc_id", "lang", F.col("score").alias("quality"), "pct"
    )


def _q_windowed_counts(spark, sf_dir):
    """Tumbling 1-hour event counts — the batch twin of
    streaming/windows.windowed_event_counts (same function; the
    watermark is a no-op in batch). Window bounds exported as exact
    epoch microseconds; the oracle reproduces the epoch-aligned bucket
    with integer arithmetic."""
    from parallel_pagerank_spark.streaming.windows import (
        windowed_event_counts,
    )

    out = windowed_event_counts(
        _events(spark, sf_dir), "1 hour", "1 hour"
    )
    return out.select(
        F.unix_micros(F.col("window_start").cast("timestamp")).alias(
            "window_start_us"
        ),
        F.unix_micros(F.col("window_end").cast("timestamp")).alias(
            "window_end_us"
        ),
        "event_type",
        "n_events",
    )


def _q_test_containment(spark, sf_dir):
    """Eval-side contamination score (functions/decontam.py
    ngram_containment): per TEST doc, the fraction of its distinct
    4-grams found anywhere in the train split — the published
    dirty-doc metric. Integer counts; containment is a single IEEE
    division (hash-exact)."""
    from parallel_pagerank_spark.functions.decontam import (
        ngram_containment,
    )
    from parallel_pagerank_spark.functions.splits import assign_split

    docs = assign_split(_documents(spark, sf_dir))
    train = docs.filter(F.col("split") == "train")
    test = docs.filter(F.col("split") == "test")
    return ngram_containment(train, test, n=4, key="text")


def _q_mis(spark, sf_dir):
    """Deterministic-Luby maximal independent set (operators/mis.py) on
    the undirected mod-30 subgraph. Priorities are the portable hash
    salted by round, so the oracle replays the identical rounds; the
    oracle packs (bucket, id) into one int64 (valid: event ids < 2^31),
    the engine compares the struct — the same total order."""
    from parallel_pagerank_spark.operators.mis import (
        maximal_independent_set,
    )
    from parallel_pagerank_spark.sources.events import event_graph_edges

    ev = _events(spark, sf_dir).filter((F.col("user_id") % 30) == 0)
    res = maximal_independent_set(event_graph_edges(ev))
    return res.members


def _q_graph_coloring(spark, sf_dir):
    """Deterministic Jones-Plassmann greedy coloring
    (operators/coloring.py) on the undirected mod-30 subgraph: fixed
    portable-hash priorities, per round the strict local minima color
    themselves with the mex of their colored neighborhoods (<= Δ+1
    colors). The oracle replays the identical rounds — packed (p, id)
    arg-min for the frontier (event ids < 2^31), list-filter mex.
    All-integer, hash-exact."""
    from parallel_pagerank_spark.operators.coloring import greedy_coloring
    from parallel_pagerank_spark.sources.events import event_graph_edges

    ev = _events(spark, sf_dir).filter((F.col("user_id") % 30) == 0)
    res = greedy_coloring(event_graph_edges(ev))
    return res.colors


def _q_maximal_matching(spark, sf_dir):
    """Deterministic local-max maximal matching (operators/matching.py —
    Preis 1999 / Birn ESA'13 with portable-hash priorities) on the
    undirected mod-30 subgraph. Per round an edge wins iff its
    (bucket, u, v) triple is the strict minimum among edges sharing
    either endpoint; the oracle replays the identical rounds with a
    row_number arg-min (valid: event ids < 2^31 for the packed edge
    key). All-integer, hash-exact."""
    from parallel_pagerank_spark.operators.matching import (
        maximal_matching,
    )
    from parallel_pagerank_spark.sources.events import event_graph_edges

    ev = _events(spark, sf_dir).filter((F.col("user_id") % 30) == 0)
    res = maximal_matching(event_graph_edges(ev))
    return res.pairs


def _q_community_pagerank(spark, sf_dir):
    """Community-level PageRank: the LPA-5 labeling coarsens the event
    graph to its quotient multigraph (operators/scc.py quotient_graph,
    n_links as edge weight), then 10 fixed power iterations of WEIGHTED
    PageRank rank the communities themselves — the multilevel
    link-analysis readout (which communities the link mass concentrates
    in, not which vertices). Sparse label ids → explicit vertices (no
    dense-range assumption); the oracle replays LPA + quotient + the
    weighted update float-op-for-float-op; ranks rounded 9."""
    from parallel_pagerank_spark.config import PageRankConfig
    from parallel_pagerank_spark.operators.labelprop import (
        label_propagation,
    )
    from parallel_pagerank_spark.operators.pagerank import pagerank
    from parallel_pagerank_spark.operators.scc import quotient_graph
    from parallel_pagerank_spark.sources.events import event_graph_edges

    edges = event_graph_edges(_events(spark, sf_dir))
    labels = label_propagation(edges, max_iter=5).labels
    q = quotient_graph(edges, labels)
    qe = q.select(
        F.col("src_label").alias("src"),
        F.col("dst_label").alias("dst"),
        F.col("n_links").cast("double").alias("weight"),
    )
    verts = labels.select(F.col("label").alias("id")).distinct()
    res = pagerank(
        qe,
        vertices=verts,
        config=PageRankConfig(tol=0.0, max_iter=10),
        weight_col="weight",
    )
    return (
        res.ranks.select("id", F.round("rank", 9).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("id"))
        .limit(20)
    )


def _q_quotient_lpa5(spark, sf_dir):
    """Community-to-community traffic: the quotient multigraph
    (operators/scc.py quotient_graph, intra pairs kept) of the 5-step
    LPA labeling — the coarsened supergraph of multilevel methods.
    All-integer, hash-exact; reuses the hash-checked LPA-5 chain."""
    from parallel_pagerank_spark.operators.labelprop import (
        label_propagation,
    )
    from parallel_pagerank_spark.operators.scc import quotient_graph
    from parallel_pagerank_spark.sources.events import event_graph_edges

    edges = event_graph_edges(_events(spark, sf_dir))
    res = label_propagation(edges, max_iter=5)
    return quotient_graph(edges, res.labels)


def _q_sample_k(spark, sf_dir):
    """Exact-k deterministic sample (functions/splits.py sample_fixed_k):
    the 50 smallest (portable-bucket, doc_id) pairs — plans as
    TakeOrderedAndProject (per-partition top-k heap, never a full
    sort). Prefix property: the k+1 sample is this sample plus one."""
    from parallel_pagerank_spark.functions.splits import sample_fixed_k

    return sample_fixed_k(_documents(spark, sf_dir), 50).select(
        "doc_id", "lang"
    )


def _q_sample_k_per_lang(spark, sf_dir):
    """Balanced eval-set cut (functions/splits.py sample_per_stratum_k):
    exactly min(10, |lang|) docs per language by (bucket, doc_id)
    row_number."""
    from parallel_pagerank_spark.functions.splits import (
        sample_per_stratum_k,
    )

    return sample_per_stratum_k(
        _documents(spark, sf_dir), "lang", 10
    ).select("doc_id", "lang")


def _q_pii_scrub(spark, sf_dir):
    """PII redaction + per-pattern hit counts (functions/text.py
    pii_stats): emails, IPv4s, long digit runs → typed placeholder
    tokens, chained regexp_replace in a dialect-portable subset (same
    semantics in Java regex and RE2 — see PII_PATTERNS). The synthetic
    corpus is PII-free, so deterministic PII is INJECTED per doc (an
    email, an IP, a 15-digit account number built from doc_id) — the
    oracle applies the identical injection and the identical regex
    chain, making the whole transform hash-exact including the cleaned
    text."""
    from parallel_pagerank_spark.functions.text import pii_stats

    docs = _documents(spark, sf_dir)
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com via 10.0.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit(" acct "),
            (F.col("doc_id") * F.lit(1_000_000) + F.lit(123_456_789))
            .cast("string"),
        ).alias("text"),
    )
    return pii_stats(salted)


def _q_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction over the undirected reply∪handoff
    graph (operators/linkanalysis.py adamic_adar): for each
    non-adjacent pair sharing ≥1 neighbor, Σ 1/ln(deg(k)) over common
    neighbors k — the classic CIKM'03 predictor. n_common is
    all-integer; score is a sum of 1/ln(small-int) doubles rounded 9
    (same float discipline as ngram_jaccard). degree_cap=1000 never
    hit at driver SFs; the oracle applies it anyway so formulas match
    exactly."""
    from parallel_pagerank_spark.operators.linkanalysis import adamic_adar
    from parallel_pagerank_spark.sources.events import event_graph_edges

    pairs = adamic_adar(event_graph_edges(_events(spark, sf_dir)))
    return pairs.select(
        "u", "v", "n_common", F.round("score", 9).alias("score")
    )


def _q_jaccard_linkpred(spark, sf_dir):
    """Neighborhood-Jaccard link prediction over the undirected
    reply∪handoff graph (operators/linkanalysis.py jaccard_linkpred):
    for each non-adjacent pair sharing ≥1 neighbor,
    |N(u)∩N(v)| / |N(u)∪N(v)| — the size-normalized CIKM'03 predictor
    next to adamic_adar's degree-damped one. n_common is all-integer;
    jaccard is ONE IEEE division of exact integers, rounded 9 (bit-
    reproducible). degree_cap=1000 never hit at driver SFs; the oracle
    applies it anyway so formulas match exactly."""
    from parallel_pagerank_spark.operators.linkanalysis import (
        jaccard_linkpred,
    )
    from parallel_pagerank_spark.sources.events import event_graph_edges

    pairs = jaccard_linkpred(event_graph_edges(_events(spark, sf_dir)))
    return pairs.select(
        "u", "v", "n_common", F.round("jaccard", 9).alias("jaccard")
    )


def _q_mixture(spark, sf_dir):
    """Deterministic source-mixture schedule (functions/mixing.py
    mixture_schedule — the GPT-3/Pile mixing-weights pass, sampler
    replaced by the portable hash so the schedule is reproducible and
    resumable): per-lang epoch weights {en:2.5, de:1.0, es:0.5,
    fr:1.25}; zh is deliberately unlisted and must vanish (fail-closed).
    Epoch replication is array-side, the order key pure int64 hash
    arithmetic — all-integer, hash-exact."""
    from parallel_pagerank_spark.functions.mixing import mixture_schedule

    return mixture_schedule(
        _documents(spark, sf_dir), _MIX_WEIGHTS, source_col="lang"
    )


_MIX_WEIGHTS = {"en": 2.5, "de": 1.0, "es": 0.5, "fr": 1.25}


def _q_pq_codes(spark, sf_dir):
    """Product-quantization codes (functions/similarity.py pq_encode —
    Jégou TPAMI'11): every embedding cut into m=8 contiguous 8-dim
    subvectors, each replaced by its nearest (squared-L2) codeword id
    from the deterministic seed codebook (subvectors of the k=8
    smallest-id vectors; ties to the smallest code). Codes are the
    integer argmins (same ulp-tie caveat as cluster_assign), emitted as
    one '-'-joined string in subspace order (the gate hashes scalar
    columns, not arrays); mse is the
    mean squared reconstruction error, rounded 6 (bm25 discipline —
    Spark folds per-sub distances in sub order, DuckDB sums the same 8
    doubles; both land well inside 1e-6)."""
    from parallel_pagerank_spark.functions.similarity import (
        pq_encode,
        pq_seed_codebooks,
    )

    emb = _embeddings(spark, sf_dir).filter(F.col("embedding").isNotNull())
    cb = pq_seed_codebooks(emb, m=8, k=8)
    out = pq_encode(emb, cb, m=8)
    return out.select(
        "vec_id",
        F.concat_ws("-", F.col("codes").cast("array<string>")).alias("codes"),
        F.round("mse", 6).alias("mse"),
    )


def _q_cross_jaccard(spark, sf_dir):
    """Cross-corpus exact similarity join (functions/dedup.py
    cross_jaccard_join — Vernica SIGMOD'10 R×S prefix filter): every
    (new, reference) pair with char-5-gram Jaccard >= 0.9, snapshots
    carved deterministically as ref = doc_id % 3 == 0. The oracle is
    the unpruned inverted-index SQL — a different plan computing the
    same exact result, checking the prefix pruning hash-exactly."""
    from parallel_pagerank_spark.functions.dedup import cross_jaccard_join

    docs = _documents(spark, sf_dir)
    out = cross_jaccard_join(
        docs.filter(F.col("doc_id") % 3 != 0),
        docs.filter(F.col("doc_id") % 3 == 0),
        threshold=0.9,
    )
    return out.select(
        "new_id", "ref_id", F.round("jaccard", 9).alias("jaccard")
    )


def _q_dedup_incremental(spark, sf_dir):
    """Incremental cross-snapshot dedup (functions/dedup.py
    dedup_against): the new batch (doc_id % 3 != 0) deduped against the
    kept reference (doc_id % 3 == 0) — exact fingerprint anti-join plus
    the near tier at 0.9 — then exact-deduped among itself.
    All-integer, hash-exact."""
    from parallel_pagerank_spark.functions.dedup import dedup_against

    docs = _documents(spark, sf_dir)
    return dedup_against(
        docs.filter(F.col("doc_id") % 3 != 0),
        docs.filter(F.col("doc_id") % 3 == 0),
        threshold=0.9,
    ).select("keep_id", "dup_count")


def _q_props_stats(spark, sf_dir):
    """Semi-structured payload extraction (sources/events.py
    parse_props/props_stats): the events table's props JSON column
    parsed JVM-side (get_json_object) and folded to per-event_type
    integer stats — NULL-safe (absent key / malformed JSON → NULL,
    counted in k_nulls). All-integer, hash-exact."""
    from parallel_pagerank_spark.sources.events import props_stats

    return props_stats(_events(spark, sf_dir))


def _q_bpe_pairs(spark, sf_dir):
    """First-round BPE pair statistics (functions/bpe.py
    bpe_pair_counts — Sennrich ACL'16 §3.2): corpus-weighted adjacent
    symbol-pair counts over char+EOW symbol sequences of the distinct
    normalized words. The SQL-expressible slice of tokenizer training;
    all-string/integer, hash-exact."""
    from parallel_pagerank_spark.functions.bpe import bpe_pair_counts

    return bpe_pair_counts(_documents(spark, sf_dir))


def _q_bpe_merges(spark, sf_dir):
    """Learned BPE merge table, 20 rounds (functions/bpe.py bpe_train).
    Iterative and data-dependent — each round's argmax parameterizes
    the next round's fold — so no single-statement SQL oracle exists;
    rows-only here, with full pure-Python parity in tests/test_bpe.py
    (merges, segmentation, and first-round counts all equal the
    reference implementation)."""
    from parallel_pagerank_spark.functions.bpe import bpe_train

    return bpe_train(_documents(spark, sf_dir), n_merges=20)


def _q_bpe_encode(spark, sf_dir):
    """End-to-end tokenizer application (functions/bpe.py bpe_train →
    bpe_segment): a 12-rule merge table trained on the first 200 docs
    is applied back to them; per doc the token count and the first six
    tokens (pipe-joined). Deterministic, but training + per-rule fold
    application are iterative/data-dependent like bpe_merges — no
    single-statement SQL oracle; rows-only, with full pure-Python
    segmentation parity in tests/test_bpe.py."""
    from parallel_pagerank_spark.functions.bpe import (
        bpe_segment,
        bpe_train,
    )

    docs = (
        _documents(spark, sf_dir)
        .orderBy("doc_id")
        .limit(200)
        .select("doc_id", "text")
    )
    merges = bpe_train(docs, n_merges=12)
    seg = bpe_segment(docs, merges)
    return seg.select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        F.concat_ws("|", F.slice("tokens", 1, 6)).alias("head"),
    )


def _inject_messy_urls(docs):
    """Shared URL injection for the wave-17 URL-curation queries: one
    URL per doc whose CANONICAL form is
    https://site{doc_id%50}.example.com/page{doc_id%10}, dressed up by
    doc_id%5 with the real-world mess canonical_url removes — mixed
    case + www. + default port + trailing slash (v1), a tracking
    parameter (v2), a fragment (v3), slash + two tracking params (v4);
    v0 is already canonical. Since 10 | 50, the canonical key is
    determined by doc_id%50 → 50 groups that url_dedup must collapse."""
    g = F.pmod(F.col("doc_id"), F.lit(50)).cast("string")
    p = F.pmod(F.col("doc_id"), F.lit(10)).cast("string")
    i = F.col("doc_id").cast("string")
    base = F.concat(F.lit("https://site"), g, F.lit(".example.com/page"), p)
    url = (
        F.when(
            F.pmod(F.col("doc_id"), F.lit(5)) == 1,
            F.concat(
                F.lit("https://WWW.Site"),
                g,
                F.lit(".Example.COM:443/page"),
                p,
                F.lit("/"),
            ),
        )
        .when(
            F.pmod(F.col("doc_id"), F.lit(5)) == 2,
            F.concat(base, F.lit("?utm_source=feed"), i),
        )
        .when(
            F.pmod(F.col("doc_id"), F.lit(5)) == 3,
            F.concat(base, F.lit("#sec"), i),
        )
        .when(
            F.pmod(F.col("doc_id"), F.lit(5)) == 4,
            F.concat(base, F.lit("/?utm_campaign=a&ref=r")),
        )
        .otherwise(base)
    )
    return docs.select(
        "doc_id", F.concat(F.col("text"), F.lit(" see "), url).alias("text")
    )


def _q_url_canonical(spark, sf_dir):
    """URL canonicalization (functions/urls.py canonical_url — the
    URL-level dedup key every crawl pipeline computes before any
    content pass): scheme+host lowercased, default port / www. /
    fragment / tracking params / trailing slashes stripped, query
    re-punctuated. One messy URL injected per doc (five variants —
    see _inject_messy_urls); extraction + the full anchored-regex
    canonicalization chain are Java∩RE2-portable, so url AND canonical
    are both hash-exact against the DuckDB mirror."""
    from parallel_pagerank_spark.functions.urls import canonical_urls

    return canonical_urls(_inject_messy_urls(_documents(spark, sf_dir))).select(
        "doc_id", "url", "canonical"
    )


def _q_url_dedup(spark, sf_dir):
    """URL-level dedup readout (functions/urls.py url_dedup): one row
    per canonical URL with the kept minimum doc_id, distinct-doc count,
    and mention count — the injected corpus collapses 5 mess variants
    into 50 canonical groups. One canonical-keyed aggregation
    (countDistinct plans two-phase: a crawl-hot URL cannot pin a
    reducer). All-integer + canonical string, hash-exact."""
    from parallel_pagerank_spark.functions.urls import url_dedup

    return url_dedup(_inject_messy_urls(_documents(spark, sf_dir)))


def _q_domain_quota(spark, sf_dir):
    """Per-domain quota sampling: canonical URL → domain as the
    stratum, then EXACTLY min(3, |domain|) docs per domain via
    splits.sample_per_stratum_k (portable-hash order, deterministic,
    prefix-stable) — the per-domain cap web corpora apply so one giant
    site cannot dominate the training mix. Oracle mirrors the hash and
    the row_number cut verbatim; all output columns integer/string,
    hash-exact."""
    from parallel_pagerank_spark.functions.splits import (
        sample_per_stratum_k,
    )
    from parallel_pagerank_spark.functions.urls import (
        canonical_urls,
        url_domain,
    )

    per_doc = canonical_urls(
        _inject_messy_urls(_documents(spark, sf_dir))
    ).select("doc_id", url_domain(F.col("canonical")).alias("domain"))
    return sample_per_stratum_k(
        per_doc, "domain", k=3, id_col="doc_id"
    ).select("doc_id", "domain")


def _q_quality_classifier(spark, sf_dir):
    """Count-ratio linear quality classifier (functions/classify.py —
    the GPT-3/WebText-style quality-filter step with the log-count
    ratio kept in exact cross-multiplied integer form, so training AND
    scoring are bit-identical across engines): trained with
    source='src0' as the positive slice, every document scored
    score = Σ tf·(c_pos·N_neg − c_neg·N_pos). All-integer, hash-exact;
    vocabulary-sized model broadcast, corpus scanned once per pass."""
    from parallel_pagerank_spark.functions.classify import (
        score_documents,
        train_count_classifier,
    )

    docs = _documents(spark, sf_dir)
    model = train_count_classifier(
        docs.withColumn("label", F.col("source") == F.lit("src0"))
    )
    return score_documents(docs, model)


def _q_asof_view_click(spark, sf_dir):
    """As-of join (functions/asof.py — the temporal enrichment
    primitive Spark lacks natively): every click attributed to the
    latest at-or-before view by the same user. Views pre-aggregated to
    one row per (user_id, ts) keeping max(event_id) so the match is
    well-defined; the engine's union-and-running-last plan is ONE
    shuffle keyed on user_id (sessionize's shape — no range join, no
    per-key quadratic work), while the oracle uses DuckDB's native
    ASOF LEFT JOIN — two independent formulations of the same
    semantics. Timestamps compare as exact epoch µs; all output
    integer, hash-exact."""
    from parallel_pagerank_spark.functions.asof import asof_join

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
    )
    return asof_join(clicks, views, on="user_id").select(
        "click_id",
        "user_id",
        F.col("r_view_id").alias("view_id"),
        F.col("r_ts_us").alias("view_ts_us"),
        "gap_us",
    )


def _q_cc_incremental(spark, sf_dir):
    """Incremental connected components (operators/components.py
    connected_components_incremental — the crawl-refresh path): the
    transcript graph split deterministically into an old snapshot
    (pmod(src+dst,5) != 0) and a new edge batch, old snapshot's labels
    re-read as diameter-2 star edges and unioned with the batch. The
    oracle runs plain FastSV over the FULL edge set — the hash match IS
    the proof that the incremental result equals the from-scratch one,
    at |V| old-side rows instead of |E_old|."""
    from parallel_pagerank_spark.operators.components import (
        connected_components,
        connected_components_incremental,
    )
    from parallel_pagerank_spark.sources.events import event_graph_edges

    edges = event_graph_edges(_events(spark, sf_dir))
    batch = F.pmod(F.col("src") + F.col("dst"), F.lit(5)) == 0
    prev = connected_components(edges.filter(~batch)).components
    res = connected_components_incremental(prev, edges.filter(batch))
    return (
        res.components.groupBy("component")
        .agg(F.count("*").alias("size"))
        .orderBy(F.desc("size"), F.asc("component"))
    )


def _q_hot_users(spark, sf_dir):
    """Hot-key skew diagnostic (functions/profile.py hot_keys): the
    25 heaviest user_ids by exact event count with their corpus share —
    what a 100 TB job reads before deciding salting / broadcast /
    degree caps. Two-phase count agg + TakeOrderedAndProject (plan-
    pinned in tests); ties at the cut break by smallest key so the
    returned set is deterministic. n exact int64; share = one IEEE
    division rounded 9."""
    from parallel_pagerank_spark.functions.profile import hot_keys

    return hot_keys(_events(spark, sf_dir), "user_id", k=25)


def _q_neighbor_sample(spark, sf_dir):
    """Deterministic GraphSAGE-style fan-out cap (operators/graph.py
    sample_neighbors_k): at most 3 out-edges per source, chosen by the
    portable hash of the packed edge key — stable, salt-re-dealable,
    prefix-consistent; output degree <= 3 everywhere (skew-proof by
    construction). All-integer, hash-exact (the oracle replays the
    identical (bucket, dst) row_number)."""
    from parallel_pagerank_spark.operators.graph import (
        sample_neighbors_k,
    )
    from parallel_pagerank_spark.sources.events import event_graph_edges

    return sample_neighbors_k(
        event_graph_edges(_events(spark, sf_dir)), 3
    )


def _q_tool_latency(spark, sf_dir):
    """Per-tool response-latency percentiles (sources/events.py
    tool_latency_stats): within-conversation gap to the previous event
    attributed to the later event's tool, summarized as n / mean /
    p50 / p90 / p99. Gaps exact integer µs; mean one IEEE division;
    percentiles via Spark percentile ≡ DuckDB quantile_cont exact
    interpolation (the doc_quantiles bit-identical precedent)."""
    from parallel_pagerank_spark.sources.events import (
        tool_latency_stats,
    )

    return tool_latency_stats(_events(spark, sf_dir))


def _q_oov_rate(spark, sf_dir):
    """Vocabulary-coverage readout (functions/text.py vocabulary_topn →
    oov_stats): the top-64 corpus tokens as the vocabulary, per-doc
    OOV token share against it. Counts exact int64, rate one IEEE
    division, token-less docs report NULL rate; vocabulary broadcast —
    no term-keyed shuffle in the scoring pass."""
    from parallel_pagerank_spark.functions.text import (
        oov_stats,
        vocabulary_topn,
    )

    docs = _documents(spark, sf_dir)
    return oov_stats(docs, vocabulary_topn(docs, 64))


def _q_tool_transitions(spark, sf_dir):
    """First-order Markov tool-handoff matrix (sources/events.py
    tool_transitions): consecutive (from_tool -> to_tool) pairs per
    conversation timeline under the stable (ts, event_id) order, counted
    and row-normalized. One window pass + one hash agg onto the
    |tools|^2 matrix; n exact int64, prob one IEEE division of exact
    integers (the hot_keys share precedent) — hash-exact."""
    from parallel_pagerank_spark.sources.events import tool_transitions

    return tool_transitions(_events(spark, sf_dir))


def _q_zorder_layout(spark, sf_dir):
    """Z-order layout keys (functions/layout.py zorder_key): Morton
    bit-interleave of (user_id, epoch-us ts) buckets — the table-layout
    pass that clusters event files so BOTH per-conversation and
    time-window scans prune on file min/max stats (Delta/Iceberg
    OPTIMIZE ZORDER BY; Morton 1966 / Orenstein & Merrett PODS'84).
    Buckets use true int64 integer division (Spark `div` ≡ DuckDB `//`),
    the interleave is shifts/ands only — all-integer, hash-exact."""
    from parallel_pagerank_spark.functions.layout import zorder_key

    base = (
        _events(spark, sf_dir)
        .filter(F.col("user_id").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
    )
    return zorder_key(base, ["user_id", "ts_us"], bits=8).select(
        "event_id", "zb_user_id", "zb_ts_us", "zkey"
    )


def _q_conv_entropy(spark, sf_dir):
    """Per-conversation tool-diversity entropy (sources/events.py
    conversation_entropy) — the transcript analog of doc_entropy:
    Shannon entropy of each conversation's event_type distribution.
    Integer counts hash-exact; the two float columns rounded to 6
    over an ORDER-DETERMINISTIC sorted-count fold in both engines —
    the doc_entropy r5 discipline (the rounded value is a property of
    the data, not of partition combine order)."""
    from parallel_pagerank_spark.sources.events import (
        conversation_entropy,
    )

    out = conversation_entropy(_events(spark, sf_dir))
    return out.select(
        "user_id",
        "n_events",
        "n_tools",
        F.round("entropy", 6).alias("entropy"),
        F.round("entropy_ratio", 6).alias("entropy_ratio"),
    )


def _q_expectations(spark, sf_dir):
    """Single-scan data-quality expectations (functions/expectations.py
    check_expectations — the Deequ/Great-Expectations release-gate
    pattern, Schelter VLDB'18): four row-level rules + one uniqueness
    rule over documents compile into ONE wide aggregate (sum(CASE) per
    rule, count-distinct for uniqueness), unpivoted to long form.
    NULL predicates fail closed. Counts exact int64; the rate is one
    IEEE division — hash-exact."""
    from parallel_pagerank_spark.functions.expectations import (
        check_expectations,
    )

    docs = _documents(spark, sf_dir)
    return check_expectations(
        docs,
        {
            "n_chars_positive": F.col("n_chars") > 0,
            "n_chars_matches_text": F.col("n_chars")
            == F.length("text"),
            "lang_is_iso2": F.length("lang") == 2,
            "text_nonempty": F.length("text") > 0,
        },
        unique=("doc_id",),
    )


def _q_weighted_sample_k(spark, sf_dir):
    """Weight-proportional exact-k sample (functions/splits.py
    weighted_sample_k — Duffield-Lund-Thorup priority sampling /
    Ohlsson sequential Poisson): the 60 smallest u/w priority keys with
    w = n_chars, u from the portable hash. The key is one exact
    power-of-two scale plus one IEEE double division, so the DuckDB
    oracle replays it bit-identically. Plans as TakeOrderedAndProject
    (per-partition 60-row heap), the weight filter pushes to the
    scan."""
    from parallel_pagerank_spark.functions.splits import weighted_sample_k

    return weighted_sample_k(
        _documents(spark, sf_dir), 60, "n_chars"
    ).select("doc_id", "lang", "n_chars")


def _q_semantic_dedup(spark, sf_dir):
    """SemDeDup keep-set (functions/similarity.py semantic_dedup —
    Abbas et al. 2023): embeddings + 30 injected exact copies are
    clustered onto 8 deterministic centroids (first vec_ids); within
    each cluster, any vector cosine-similar (>= 0.9) to a smaller-id
    vector is dropped. The copies (cos = 1.0 with their originals,
    shifted ids) must all drop; natural pairs stay below 0.9 (the
    emb_near_dups data precondition). Pair work is confined to
    clusters — O(n^2/k), the SemDeDup scale design. Integer output;
    float cosines internal (ulp-argmax caveat as cluster_assign)."""
    from parallel_pagerank_spark.functions.similarity import (
        semantic_dedup,
    )

    emb = _embeddings(spark, sf_dir).filter(
        F.col("embedding").isNotNull()
    ).select("vec_id", "embedding")
    dup = (
        emb.orderBy("vec_id")
        .limit(30)
        .select((F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding")
    )
    cents = (
        emb.orderBy("vec_id")
        .limit(8)
        .select(F.col("vec_id").alias("centroid_id"), "embedding")
    )
    return semantic_dedup(emb.unionByName(dup), cents, threshold=0.9)


def _q_knn_pq(spark, sf_dir):
    """PQ-ADC approximate top-5 (functions/similarity.py l2_topk_pq —
    Jégou TPAMI'11 asymmetric distance): corpus encoded against the
    deterministic seed codebook (m=8, k=8 — the pq_codes setup), the
    first 8 vectors as queries, distance = Σ_sub LUT lookups over the
    codes only (raw corpus never rescanned). Integer output like
    knn_bruteforce; the float adc is internal (ulp-tie caveat)."""
    from parallel_pagerank_spark.functions.similarity import (
        l2_topk_pq,
        pq_encode,
        pq_seed_codebooks,
    )

    emb = _embeddings(spark, sf_dir).filter(F.col("embedding").isNotNull())
    cb = pq_seed_codebooks(emb, m=8, k=8)
    codes = pq_encode(emb, cb, m=8)
    queries = emb.orderBy("vec_id").limit(8)
    return l2_topk_pq(codes, cb, queries, m=8, k=5).select(
        "query_id", "neighbor_id", "rnk"
    )


def _q_bm25(spark, sf_dir):
    """Okapi BM25 per (doc, term) (functions/text.py bm25 — the
    Robertson/Walker ranking function, Lucene positive-idf variant)
    next to doc_tfidf's tf-idf. dl is taken from the token array
    BEFORE the explode and carried through the tf aggregation, so the
    corpus shuffles once on (doc, term); df broadcast back. Rank-free
    full table, values rounded 6 (the doc_tfidf ln-ulp discipline);
    tf/dl all-integer."""
    from parallel_pagerank_spark.functions.text import bm25

    out = bm25(_documents(spark, sf_dir))
    return out.select(
        "doc_id", "term", "tf", "dl", F.round("bm25", 6).alias("bm25")
    )


def _q_seq_pack(spark, sf_dir):
    """Sequence packing slice map (functions/packing.py pack_sequences —
    the GPT concat-then-chunk input pipeline): docs concatenated in
    doc_id order with a trailing EOS each, the global token stream cut
    into 64-token windows; each row says which 1-based token range of
    which doc lands at which offset of which sequence. Global offsets
    via the two-level prefix sum (per-partition cumsum + P driver-side
    bases), window assignment array-side. All-integer, hash-exact."""
    from parallel_pagerank_spark.functions.packing import pack_sequences

    return pack_sequences(_documents(spark, sf_dir), seq_len=64)


def _q_seq_pack_text(spark, sf_dir):
    """Materialized packed sequences (functions/packing.py
    pack_sequence_text): the seq_pack slice map joined back to the
    (tokens + EOS) arrays, slices cut array-side, reassembled per
    sequence with an array_sort over (seq_pos, text) structs — ONE
    shuffle keyed on seq_id, every key bounded by seq_len tokens (no
    skew hazard by construction). seq_text itself is hash-checked."""
    from parallel_pagerank_spark.functions.packing import (
        pack_sequence_text,
    )

    return pack_sequence_text(_documents(spark, sf_dir), seq_len=64)


def _q_url_domains(spark, sf_dir):
    """URL extraction → per-domain stats (functions/urls.py): the
    C4/CCNet-style per-domain curation readout. The synthetic corpus has
    no URLs, so two deterministic URLs are INJECTED per doc (domain
    classes site{id%50}.example.com and m{id%7}.example.org, one with a
    path); the oracle applies the identical injection and the identical
    Java∩RE2 regex chain, so extraction + domain parse + both counts
    are hash-exact."""
    from parallel_pagerank_spark.functions.urls import domain_stats

    docs = _documents(spark, sf_dir)
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://Site"),
            F.pmod(F.col("doc_id"), F.lit(50)).cast("string"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
            F.lit(" and http://m"),
            F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
            F.lit(".example.org"),
        ).alias("text"),
    )
    return domain_stats(salted)


def _q_lm_score(spark, sf_dir):
    """CCNet-style LM quality signal (functions/lm.py): add-one bigram
    model trained on the lang='en' slice, every document scored with
    its mean negative log-likelihood per bigram. n_bigrams is
    all-integer; nll is a mean of ln(rational) doubles rounded 9 (the
    established float discipline). Bigram formation is scan-local
    (transform over the token array — no window shuffle); the oracle
    mirrors it with zipped list-slice unnests."""
    from parallel_pagerank_spark.functions.lm import bigram_lm_score

    docs = _documents(spark, sf_dir)
    train = docs.where(F.col("lang") == "en")
    out = bigram_lm_score(train, docs)
    return out.select(
        "doc_id", "n_bigrams", F.round("nll", 9).alias("nll")
    )


def _q_media_features(spark, sf_dir):
    """Multimodal decode → feature pipeline through the REAL codecs
    (functions/jpeg.py + functions/mp4.py + functions/codecs.py): a
    deterministic media table (PPM/BMP images, PCM WAV audio, raw-MJPEG
    AND MP4-contained video — all genuinely encoded bytes) is decoded
    back via mapInPandas and reduced to one row per medium: images →
    true BT.601 mean luma, audio → RMS, video → sampled-frame pixel
    hashes PLUS (r5) a video_meta row per video from the metadata-only
    container parse (ISO BMFF sample tables / MJPEG marker walk — no
    pixel decode). No SQL oracle (binary codecs are not SQL-expressible
    — rows-only by design); determinism is pinned by
    tests/test_codecs_jpeg_png.py + tests/test_mp4.py golden/roundtrip
    suites, and the committed JPEG/MP4 fixtures hash-pin the decoders."""
    from parallel_pagerank_spark.functions.multimodal import (
        audio_features,
        image_features,
        sample_frames,
        synthetic_media,
        video_features,
    )

    media = synthetic_media(spark, n_rows=24, real_payloads=True)
    img = image_features(media, decoder="real").select(
        "media_id",
        F.lit("image").alias("kind"),
        F.round("mean_luma", 6).alias("value"),
    )
    aud = audio_features(media, decoder="real").select(
        "media_id",
        F.lit("audio").alias("kind"),
        F.round("rms", 6).alias("value"),
    )
    vid = (
        sample_frames(media, every_nth=2, decoder="real")
        # pmod BEFORE summing: raw 64-bit pixel hashes overflow an ANSI
        # int64 sum; per-frame residues sum safely (n_frames * P << 2^63)
        .groupBy("media_id")
        .agg(
            F.sum(F.pmod("frame_hash", F.lit(1_000_000_007))).alias("h")
        )
        .select(
            "media_id",
            F.lit("video").alias("kind"),
            F.pmod("h", F.lit(1_000_000_007)).cast("double").alias(
                "value"
            ),
        )
    )
    # r5: metadata-only container parse — value encodes the curation
    # tuple (frames, width, height) without decoding any pixels
    vmeta = video_features(media).select(
        "media_id",
        F.lit("video_meta").alias("kind"),
        (
            F.col("n_frames").cast("double") * 1_000_000
            + F.col("width").cast("double") * 1_000
            + F.col("height").cast("double")
        ).alias("value"),
    )
    return img.unionByName(aud).unionByName(vid).unionByName(vmeta)


def _q_funnel(spark, sf_dir):
    """Ordered funnel view → click → purchase (sources/events.py
    funnel_counts): per-user earliest-completion chaining, step i+1
    strictly after step i. All-integer counts, hash-exact."""
    from parallel_pagerank_spark.sources.events import funnel_counts

    return funnel_counts(
        _events(spark, sf_dir), ["view", "click", "purchase"]
    )


def _q_boilerplate(spark, sf_dir):
    """Passage-level boilerplate mining (functions/text.py
    repeated_passages): passages >= 15 chars appearing verbatim in >= 3
    distinct docs — the C4-style repeated-passage rule. The synthetic
    corpus has no sentence punctuation, so the driver row delimits on
    the frequent token ' the ' instead of '. ' (a literal delimiter in
    both engines; the default-delimiter path is pytest-covered).
    All-integer + string output, hash-exact."""
    from parallel_pagerank_spark.functions.text import repeated_passages

    return repeated_passages(
        _documents(spark, sf_dir),
        min_docs=3,
        min_chars=15,
        delimiter=" the ",
    )


def _q_boilerplate_scrub(spark, sf_dir):
    """Mine → REMOVE boilerplate end-to-end (functions/text.py
    repeated_passages + remove_passages, same settings as the
    `boilerplate` row): every doc's canonical text with mined passages
    struck, plus the per-doc removal count — clean_text itself is
    hash-checked, same mine→scrub symmetry as pii_scrub."""
    from parallel_pagerank_spark.functions.text import (
        remove_passages,
        repeated_passages,
    )

    docs = _documents(spark, sf_dir)
    mined = repeated_passages(
        docs, min_docs=3, min_chars=15, delimiter=" the "
    )
    return remove_passages(docs, mined, delimiter=" the ")


def _q_dup_spans(spark, sf_dir):
    """Sequence-level duplicate mining (functions/spans.py
    duplicate_spans — the Lee et al. ACL'22 exact-substring rule at
    6-token granularity): every 6-token sliding window appearing in
    >= 2 distinct documents, with distinct-doc and total-occurrence
    counts. One span-keyed aggregation; all-integer output, hash-exact."""
    from parallel_pagerank_spark.functions.spans import duplicate_spans

    return duplicate_spans(_documents(spark, sf_dir), k=6, min_docs=2)


def _q_span_scrub(spark, sf_dir):
    """Mine -> REMOVE duplicated 6-token windows end-to-end
    (functions/spans.py remove_duplicate_spans): per doc the canonical
    text with every occurrence of every corpus-duplicated window
    struck (overlaps merge — coverage is a position set), survivors
    re-joined in order via an indexed array filter (no window sort).
    clean_text itself is hash-checked, the pii_scrub/boilerplate_scrub
    mine->scrub symmetry."""
    from parallel_pagerank_spark.functions.spans import (
        remove_duplicate_spans,
    )

    out = remove_duplicate_spans(_documents(spark, sf_dir), k=6, min_docs=2)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_removed").cast("long").alias("n_removed"),
        "clean_text",
    )


def _q_cluster_assign(spark, sf_dir):
    """Nearest-centroid assignment (functions/similarity.py
    assign_to_centroids — the k-means E-step): every embedding assigned
    to the most-cosine-similar of 8 deterministic centroids (the first
    8 vec_ids). min_by over a (−cos, id) struct — one broadcast join +
    one hash aggregation, no window sort. Integer output; the float
    cosine is internal (argmax flips only on ~ulp ties, the accepted
    knn_bruteforce risk)."""
    from parallel_pagerank_spark.functions.similarity import (
        assign_to_centroids,
    )

    emb = _embeddings(spark, sf_dir).filter(
        F.col("embedding").isNotNull()
    )
    cents = (
        emb.orderBy("vec_id")
        .limit(8)
        .select(F.col("vec_id").alias("centroid_id"), "embedding")
    )
    return assign_to_centroids(emb, cents)


def _q_drift_nchars(spark, sf_dir):
    """PSI drift terms of n_chars between the portable-hash train and
    test splits (functions/profile.py distribution_drift): equal-width
    integer buckets over the combined range, Laplace-smoothed per-bucket
    terms — Σ is the PSI (near 0 here: both splits draw from the same
    corpus). Counts exact; psi_term rounded 9."""
    from parallel_pagerank_spark.functions.profile import (
        distribution_drift,
    )
    from parallel_pagerank_spark.functions.splits import assign_split

    docs = assign_split(_documents(spark, sf_dir))
    a = docs.filter(F.col("split") == "train")
    b = docs.filter(F.col("split") == "test")
    out = distribution_drift(a, b, "n_chars", 10)
    return out.select(
        "bucket", "a_n", "b_n", F.round("psi_term", 9).alias("psi_term")
    )


def _q_safe_split(spark, sf_dir):
    """Leakage-safe dataset split (functions/decontam.py
    leakage_safe_split): near-dup clusters (the hash-checked
    near_dup_clusters chain) move through train/valid/test as single
    units — every doc splits on anchor = cluster_id (own id when
    unclustered), so the contamination test_containment flags cannot be
    introduced by the split itself. All-string/integer, hash-exact."""
    from parallel_pagerank_spark.functions.decontam import (
        leakage_safe_split,
    )

    out = leakage_safe_split(_documents(spark, sf_dir), threshold=0.9)
    return out.select("doc_id", "anchor", "split")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # NOTE on ordering: the driver's correctness gate records the FIRST ~50
    # dict entries only (r1: 25, r2: 32, r3/r4: 50). Rounds 1-3 covered the
    # original waves 1-2 surface; round 4 rotated waves 3-15 (walks8 ..
    # span_scrub) into the window. Round 5 rotation: the two r4 hash-fix
    # queries lead (so the fix is driver-verified), then the 33 queries
    # that have NEVER had a driver-side row (waves 16-20, jaccard_linkpred
    # .. conv_entropy, plus the rows-only media_features), then 15 §2-core
    # veterans (driver-green r1-3) for fresh hash history. After this
    # rotation every query in the registry has at least one round of
    # driver-side history. Rotated-out queries keep full hash coverage via
    # tools/check_oracles.py (committed log under BENCH/) + pytest.
    return {
        # --- the two r4 driver-hash fixes (must be in-window) ----------
        "doc_repetition": _q_doc_repetition,
        "doc_entropy": _q_doc_entropy,
        # --- waves 16-20: first-ever driver window appearance ----------
        "jaccard_linkpred": _q_jaccard_linkpred,
        "seq_pack": _q_seq_pack,
        "seq_pack_text": _q_seq_pack_text,
        "bm25": _q_bm25,
        "mixture": _q_mixture,
        "pq_codes": _q_pq_codes,
        "knn_pq": _q_knn_pq,
        "bpe_pairs": _q_bpe_pairs,
        "props_stats": _q_props_stats,
        "cross_jaccard": _q_cross_jaccard,
        "dedup_incremental": _q_dedup_incremental,
        "url_canonical": _q_url_canonical,
        "url_dedup": _q_url_dedup,
        "domain_quota": _q_domain_quota,
        "quality_classifier": _q_quality_classifier,
        "asof_view_click": _q_asof_view_click,
        "cc_incremental": _q_cc_incremental,
        "hot_users": _q_hot_users,
        "bpe_merges": _q_bpe_merges,
        "weighted_sample_k": _q_weighted_sample_k,
        "semantic_dedup": _q_semantic_dedup,
        "maximal_matching": _q_maximal_matching,
        "closeness4": _q_closeness4,
        "expectations": _q_expectations,
        "bpe_encode": _q_bpe_encode,
        "graph_coloring": _q_graph_coloring,
        "tool_latency": _q_tool_latency,
        "oov_rate": _q_oov_rate,
        "neighbor_sample": _q_neighbor_sample,
        "tool_transitions": _q_tool_transitions,
        "zorder_layout": _q_zorder_layout,
        "conv_entropy": _q_conv_entropy,
        # rows-only by design (binary codecs are not SQL-expressible)
        "media_features": _q_media_features,
        # --- §2-core veterans rotated back in (driver-green r1-3) ------
        "pagerank_fixed20": _q_pagerank_fixed20,
        "adjacency": _q_adjacency,
        "pagerank_weighted20": _q_pagerank_weighted20,
        "connected_components": _q_connected_components,
        "label_propagation": _q_label_propagation,
        "triangle_count": _q_triangle_count,
        "edges_reply": _q_edges_reply,
        "edges_handoff": _q_edges_handoff,
        "out_degree": _q_out_degree,
        "in_degree": _q_in_degree,
        "degree_stats": _q_degree_stats,
        "top_out_degree": _q_top_out_degree,
        "dangling_count": _q_dangling_count,
        "doc_exact_dedup": _q_doc_exact_dedup,
        "knn_bruteforce": _q_knn_bruteforce,
        # --- below the ~50-row driver window: verified each round by ---
        # --- tools/check_oracles.py full-surface sweep + pytest --------
        "walks8": _q_walks8,
        "walk_transitions": _q_walk_transitions,
        "nbhd_sketch4": _q_nbhd_sketch4,
        "nbhd_growth8": _q_nbhd_growth8,
        "katz20": _q_katz20,
        "landmark_dist4": _q_landmark_dist4,
        "harmonic4": _q_harmonic4,
        "ngram_jaccard": _q_ngram_jaccard,
        "near_dup_clusters": _q_near_dup_clusters,
        "top_docs_per_lang": _q_top_docs_per_lang,
        "modularity_lpa5": _q_modularity_lpa5,
        "powerlaw_alpha": _q_powerlaw_alpha,
        "doc_profile": _q_doc_profile,
        "k_truss3": _q_k_truss3,
        "pr_convergence10": _q_pr_convergence10,
        "emb_quantize": _q_emb_quantize,
        "dataset_split": _q_dataset_split,
        "bigram_lift": _q_bigram_lift,
        "scc": _q_scc,
        "scc_dag": _q_scc_dag,
        "doc_quantiles": _q_doc_quantiles,
        "pseudo_diameter": _q_pseudo_diameter,
        "stratified_sample": _q_stratified_sample,
        "decontaminate": _q_decontaminate,
        "topo_levels": _q_topo_levels,
        "subgraph_sample": _q_subgraph_sample,
        "quality_filter": _q_quality_filter,
        "windowed_counts": _q_windowed_counts,
        "test_containment": _q_test_containment,
        "mis": _q_mis,
        "quotient_lpa5": _q_quotient_lpa5,
        "community_pagerank": _q_community_pagerank,
        "sample_k": _q_sample_k,
        "sample_k_per_lang": _q_sample_k_per_lang,
        "funnel": _q_funnel,
        "boilerplate": _q_boilerplate,
        "cluster_assign": _q_cluster_assign,
        "drift_nchars": _q_drift_nchars,
        "safe_split": _q_safe_split,
        "pii_scrub": _q_pii_scrub,
        "adamic_adar": _q_adamic_adar,
        "url_domains": _q_url_domains,
        "lm_score": _q_lm_score,
        "pagerank_decayed10": _q_pagerank_decayed10,
        "salsa": _q_salsa,
        "boilerplate_scrub": _q_boilerplate_scrub,
        "dup_spans": _q_dup_spans,
        "span_scrub": _q_span_scrub,
        "pagerank_top20": _q_pagerank_top20,
        "degree_histogram": _q_degree_histogram,
        "doc_token_stats": _q_doc_token_stats,
        "doc_quality": _q_doc_quality,
        "doc_langid": _q_doc_langid,
        "sessionize": _q_sessionize,
        "session_stats": _q_session_stats,
        "neighbor_degree": _q_neighbor_degree,
        "doc_shingles": _q_doc_shingles,
        "clustering_coefficient": _q_clustering_coefficient,
        "isolated_count": _q_isolated_count,
        "scale_free_heuristic": _q_scale_free,
        "doc_quality_score": _q_doc_quality_score,
        "emb_near_dups": _q_emb_near_dups,
        "minhash_near_dups": _q_minhash_near_dups,
        "simhash": _q_simhash,
        "knn_lsh": _q_knn_lsh,
        "knn_ivf": _q_knn_ivf,
        "k_core": _q_k_core,
        "pagerank_personalized20": _q_pagerank_personalized20,
        "session_window": _q_session_window,
        "hits10": _q_hits10,
        "bfs_distance": _q_bfs_distance,
        "doc_tfidf": _q_doc_tfidf,
        "doc_dedup_map": _q_doc_dedup_map,
        "emb_centroids": _q_emb_centroids,
        "sssp_bounded": _q_sssp_bounded,
        "reciprocity": _q_reciprocity,
        "assortativity": _q_assortativity,
        "component_sizes": _q_component_sizes,
        "tool_stats": _q_tool_stats,
        "conv_stats": _q_conv_stats,
        "top_terms": _q_top_terms,
        "cocitation": _q_cocitation,
        "coupling": _q_coupling,
    }


# ------------------------------------------------- iterative-algorithm oracles
#
# DuckDB 1.0 recursive CTEs cannot aggregate in the recursive term, and the
# transitive-closure formulation is O(n^2) rows on a giant component — so the
# iterative oracles are FIXED-ROUND unrolled CTE chains instead, generated
# here. Correct-by-fixpoint: min-label hook steps only converge to the true
# component labeling (constant per component at any hook fixpoint), so enough
# rounds => exact; an insufficient round count shows up as a value mismatch,
# never a silent wrong-match.

# AS MATERIALIZED is load-bearing in the unrolled chains: DuckDB inlines
# plain CTEs, so a 16-round chain would re-expand (and re-open the parquet
# scan for) every upstream CTE per reference — O(3^rounds) plan blowup and
# "too many open files". Materialization evaluates each step exactly once.
_EDGES_MAT_CTE = """
reply AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT event_id AS src,
           lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
    FROM events) WHERE dst IS NOT NULL),
handoff AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT event_id AS src,
           lead(event_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
    FROM events) WHERE dst IS NOT NULL),
edges AS MATERIALIZED (SELECT * FROM reply UNION ALL SELECT * FROM handoff)
"""

_SYM_CTE = """
sym AS MATERIALIZED (
  SELECT src AS u, dst AS v FROM edges WHERE src <> dst
  UNION
  SELECT dst, src FROM edges WHERE src <> dst),
params AS MATERIALIZED (
  SELECT greatest(max(src), max(dst)) + 1 AS n FROM edges),
verts AS MATERIALIZED (SELECT unnest(range(0, n))::BIGINT AS id FROM params)
"""


def _cc_sql(
    rounds: int = 16, final: str | None = None, prelude: str | None = None
) -> str:
    """Min-label connected components: per round one 'hook' (take the min
    label over the closed neighborhood) and two 'compress' pointer jumps
    (label <- label of the vertex the label names) — the public
    Shiloach-Vishkin / FastSV shape, giving geometric convergence instead
    of O(diameter) plain propagation.

    ``prelude`` overrides the default edge/sym/verts CTEs — it must
    define ``sym(u, v)`` (symmetric, self-loop-free) and ``verts(id)``
    covering every endpoint; downstream oracles (SALSA) use this to run
    FastSV over a derived graph."""
    pre = prelude or f"{_EDGES_MAT_CTE}, {_SYM_CTE}"
    parts = [f"WITH {pre}, l0 AS MATERIALIZED (SELECT id, id AS lbl FROM verts)"]
    prev = "l0"
    for k in range(1, rounds + 1):
        parts.append(f""",
h{k} AS MATERIALIZED (SELECT id, min(lbl) AS lbl FROM (
    SELECT id, lbl FROM {prev}
    UNION ALL
    SELECT s.u AS id, l.lbl FROM sym s JOIN {prev} l ON l.id = s.v
  ) GROUP BY id),
c{k} AS MATERIALIZED (SELECT a.id, b.lbl FROM h{k} a JOIN h{k} b ON b.id = a.lbl),
l{k} AS MATERIALIZED (SELECT a.id, b.lbl FROM c{k} a JOIN c{k} b ON b.id = a.lbl)""")
        prev = f"l{k}"
    parts.append(
        f"\nSELECT lbl AS component, count(*) AS size FROM {prev} "
        "GROUP BY lbl ORDER BY size DESC, component ASC"
        if final is None
        else f"\n{final.format(labels=prev)}"
    )
    return "".join(parts)


def _lpa_sql(steps: int = 5, final_select: str | None = None) -> str:
    """Synchronous label propagation, ``steps`` unrolled rounds: most
    frequent neighbor label, ties to the MIN label, no-neighbor vertices
    keep their own. Matches operators/labelprop.py's max_by((cnt, -label))
    argmax exactly; running the oracle past the engine's convergence point
    is harmless (fixpoints are stable). ``final_select`` (referencing the
    label CTE ``l{steps}``) lets downstream oracles — modularity — reuse
    the unrolled chain."""
    parts = [f"WITH {_EDGES_MAT_CTE}, {_SYM_CTE}, l0 AS MATERIALIZED (SELECT id, id AS label FROM verts)"]
    prev = "l0"
    for k in range(1, steps + 1):
        parts.append(f""",
f{k} AS MATERIALIZED (SELECT s.u AS id, l.label, count(*) AS cnt
         FROM sym s JOIN {prev} l ON l.id = s.v GROUP BY s.u, l.label),
b{k} AS MATERIALIZED (SELECT id, label AS new_label FROM (
    SELECT id, label,
           row_number() OVER (PARTITION BY id ORDER BY cnt DESC, label ASC)
             AS rn
    FROM f{k}) WHERE rn = 1),
l{k} AS MATERIALIZED (SELECT v.id, coalesce(b.new_label, v.label) AS label
         FROM {prev} v LEFT JOIN b{k} b ON b.id = v.id)""")
        prev = f"l{k}"
    parts.append(
        final_select
        or f"\nSELECT label, count(*) AS size FROM {prev} "
        "GROUP BY label ORDER BY size DESC, label ASC"
    )
    return "".join(parts)


def _modularity_sql(steps: int = 5) -> str:
    """LPA-{steps} label chain + Newman modularity over the undirected
    simple graph (operators/stats.modularity semantics): per-community
    terms float-op-identical to the engine; the Σ over communities is
    the only order-divergent float reduce (rounded 6)."""
    lab = f"l{steps}"
    final = f""",
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges WHERE src <> dst),
mrow AS MATERIALIZED (SELECT count(*)::DOUBLE AS m FROM und),
intra AS MATERIALIZED (
  SELECT la.label, count(*)::DOUBLE AS intra_c
  FROM und e JOIN {lab} la ON la.id = e.u JOIN {lab} lb ON lb.id = e.v
  WHERE la.label = lb.label GROUP BY la.label),
udeg AS MATERIALIZED (
  SELECT id, count(*) AS deg FROM (
    SELECT u AS id FROM und UNION ALL SELECT v AS id FROM und)
  GROUP BY id),
degc AS MATERIALIZED (
  SELECT l.label, sum(d.deg)::DOUBLE AS deg_c
  FROM udeg d JOIN {lab} l ON l.id = d.id GROUP BY l.label),
terms AS (
  SELECT dc.label,
         coalesce(i.intra_c, 0.0::DOUBLE) / (SELECT m FROM mrow)
         - (dc.deg_c / (2.0::DOUBLE * (SELECT m FROM mrow)))
           * (dc.deg_c / (2.0::DOUBLE * (SELECT m FROM mrow))) AS term,
         i.intra_c
  FROM degc dc LEFT JOIN intra i ON i.label = dc.label)
SELECT round(sum(term), 6) AS modularity,
       (SELECT count(DISTINCT label) FROM {lab}) AS n_communities,
       coalesce(sum(intra_c), 0.0)::BIGINT AS intra_edges,
       (SELECT count(*) FROM und) AS m_edges
FROM terms"""
    return _lpa_sql(steps, final_select=final)


def _pagerank_fixed_sql(
    iters: int = 20,
    weighted: bool = False,
    personalized: bool = False,
    trajectory: bool = False,
    wedges_sql: str | None = None,
) -> str:
    """Unrolled power iteration mirroring operators/pagerank.py float-op
    for float-op: w = 1.0/out_deg then rank*w (not rank/out_deg), damping
    literals written as 0.85 and (1.0 - 0.85) so both engines parse the
    same doubles, dangling mass S_{k-1} * (1.0/n) redistributed uniformly.

    weighted=True: edges carry the deterministic weight 1 + (src+dst) % 3
    (integer-valued doubles, so per-src weight sums are EXACT in both
    engines regardless of summation order) and rank flows proportionally
    to weight/wsum(src) — mirroring pagerank(weight_col=...).

    personalized=True: per-vertex teleport vector v = w / Σw with
    w = 1 + id % 5 (integer-valued doubles, Σw exact in both engines);
    init p = v, update p' = 0.85·(contrib + S·v) + (1.0-0.85)·v —
    mirroring pagerank(teleport=...)."""
    if wedges_sql is not None:
        # custom weighted-edge CTE (must yield src, dst, weight);
        # implies the weighted update rule
        weighted = True
    wedges_cte = wedges_sql or """,
wedges AS MATERIALIZED (
  SELECT src, dst, (1 + (src + dst) % 3)::DOUBLE AS weight FROM edges)"""
    deg_cte = (
        "deg AS MATERIALIZED (SELECT src AS id, count(*) AS out_deg, "
        "sum(weight) AS wsum FROM wedges GROUP BY src)"
        if weighted
        else "deg AS MATERIALIZED (SELECT src AS id, count(*) AS out_deg "
        "FROM edges GROUP BY src)"
    )
    edge_rel = "wedges" if weighted else "edges"
    contrib_expr = (
        "sum(p.rank * (e.weight / g.wsum))"
        if weighted
        else "sum(p.rank * (1.0 / g.out_deg))"
    )
    tele_cte = """,
tw AS MATERIALIZED (SELECT id, (1 + id % 5)::DOUBLE AS w FROM verts),
tele AS MATERIALIZED (
  SELECT id, w / (SELECT sum(w) FROM tw) AS tele FROM tw)"""
    if personalized:
        p0_cte = (
            "p0 AS MATERIALIZED (SELECT t.id, t.tele, t.tele AS rank "
            "FROM tele t)"
        )
        tele_of = "v.tele"
    else:
        p0_cte = (
            "p0 AS MATERIALIZED (SELECT v.id, "
            "(SELECT inv_n FROM params) AS rank FROM verts v)"
        )
        tele_of = "(SELECT inv_n FROM params)"
    carry = ", v.tele" if personalized else ""
    parts = [f"""WITH {_EDGES_MAT_CTE}{wedges_cte if weighted else ""},
params AS MATERIALIZED (SELECT greatest(max(src), max(dst)) + 1 AS n,
                  1.0 / (greatest(max(src), max(dst)) + 1) AS inv_n
           FROM edges),
verts AS MATERIALIZED (SELECT unnest(range(0, n))::BIGINT AS id FROM params),
{deg_cte}{tele_cte if personalized else ""},
{p0_cte},
d0 AS MATERIALIZED (SELECT coalesce(sum(p.rank), 0.0) AS ds
       FROM p0 p LEFT JOIN deg g ON g.id = p.id WHERE g.id IS NULL)"""]
    prev_p, prev_d = "p0", "d0"
    for k in range(1, iters + 1):
        parts.append(f""",
c{k} AS MATERIALIZED (SELECT e.dst AS id, {contrib_expr} AS contrib
         FROM {edge_rel} e
         JOIN {prev_p} p ON p.id = e.src
         JOIN deg g ON g.id = e.src
         GROUP BY e.dst),
p{k} AS MATERIALIZED (SELECT v.id{carry},
                0.85 * (coalesce(c.contrib, 0.0)
                        + (SELECT ds FROM {prev_d})
                          * {tele_of})
                + (1.0 - 0.85) * {tele_of} AS rank
         FROM {prev_p} v LEFT JOIN c{k} c ON c.id = v.id),
d{k} AS MATERIALIZED (SELECT coalesce(sum(p.rank), 0.0) AS ds
         FROM p{k} p LEFT JOIN deg g ON g.id = p.id WHERE g.id IS NULL)""")
        prev_p, prev_d = f"p{k}", f"d{k}"
    if trajectory:
        # per-iteration convergence metrics (D3 max-error / D4 L1 as
        # driver rows): l1 sums ~N float terms whose order differs
        # across engines, so it is rounded to 6; max_err picks a single
        # per-vertex |diff| (no accumulation) and rounds to 9.
        for k in range(1, iters + 1):
            parts.append(f""",
m{k} AS MATERIALIZED (SELECT {k}::BIGINT AS iteration,
         round(sum(abs(p.rank - q.rank)), 6) AS l1,
         round(max(abs(p.rank - q.rank)), 9) AS max_err
         FROM p{k} p JOIN p{k - 1} q ON q.id = p.id)""")
        parts.append(
            "\n"
            + " UNION ALL ".join(
                f"SELECT * FROM m{k}" for k in range(1, iters + 1)
            )
        )
        return "".join(parts)
    parts.append(
        f"\nSELECT id, round(rank, 9) AS rank FROM {prev_p} "
        "ORDER BY rank DESC, id ASC LIMIT 20"
    )
    return "".join(parts)


def _community_pr_sql(lpa_steps: int = 5, iters: int = 10) -> str:
    """LPA-{lpa_steps} chain (reused from _lpa_sql) → quotient
    multigraph (n_links weights, intra self-pairs kept) → {iters}
    unrolled WEIGHTED power iterations over the SPARSE community-id
    vertex set (verts = distinct labels, n = community count — no
    dense-range assumption). Float ops mirror operators/pagerank.py:
    weight/wsum per edge (wsum exact — integer-valued counts), damping
    literals 0.85/(1.0-0.85), dangling mass ds·(1.0/n); ranks rounded
    9."""
    lab = f"l{lpa_steps}"
    parts = [f""",
qe AS MATERIALIZED (
  SELECT la.label AS src, lb.label AS dst, count(*)::DOUBLE AS weight
  FROM edges e JOIN {lab} la ON la.id = e.src
               JOIN {lab} lb ON lb.id = e.dst
  GROUP BY la.label, lb.label),
qverts AS MATERIALIZED (SELECT DISTINCT label AS id FROM {lab}),
qparams AS MATERIALIZED (
  SELECT count(*) AS n, 1.0 / count(*) AS inv_n FROM qverts),
qdeg AS MATERIALIZED (
  SELECT src AS id, sum(weight) AS wsum FROM qe GROUP BY src),
qp0 AS MATERIALIZED (
  SELECT v.id, (SELECT inv_n FROM qparams) AS rank FROM qverts v),
qd0 AS MATERIALIZED (SELECT coalesce(sum(p.rank), 0.0) AS ds
       FROM qp0 p LEFT JOIN qdeg g ON g.id = p.id WHERE g.id IS NULL)"""]
    prev_p, prev_d = "qp0", "qd0"
    for k in range(1, iters + 1):
        parts.append(f""",
qc{k} AS MATERIALIZED (
  SELECT e.dst AS id, sum(p.rank * (e.weight / g.wsum)) AS contrib
  FROM qe e JOIN {prev_p} p ON p.id = e.src
            JOIN qdeg g ON g.id = e.src
  GROUP BY e.dst),
qp{k} AS MATERIALIZED (
  SELECT v.id,
         0.85 * (coalesce(c.contrib, 0.0)
                 + (SELECT ds FROM {prev_d})
                   * (SELECT inv_n FROM qparams))
         + (1.0 - 0.85) * (SELECT inv_n FROM qparams) AS rank
  FROM {prev_p} v LEFT JOIN qc{k} c ON c.id = v.id),
qd{k} AS MATERIALIZED (SELECT coalesce(sum(p.rank), 0.0) AS ds
  FROM qp{k} p LEFT JOIN qdeg g ON g.id = p.id WHERE g.id IS NULL)""")
        prev_p, prev_d = f"qp{k}", f"qd{k}"
    parts.append(
        f"\nSELECT id, round(rank, 9) AS rank FROM {prev_p} "
        "ORDER BY rank DESC, id ASC LIMIT 20"
    )
    return _lpa_sql(lpa_steps, final_select="".join(parts))


def _kcore_sql(k: int = 2, rounds: int = 8) -> str:
    """Unrolled synchronous k-core peeling over the mod-7-filtered
    window-2 co-occurrence graph (same machinery as _cc_sql): per round
    one degree aggregation + edge filter keeping only edges whose BOTH
    endpoints have degree >= k. Fixpoints are stable, so unrolling past
    the engine's measured convergence (5 rounds at sf0.01) is harmless;
    an insufficient depth would surface as a value mismatch, never a
    silent wrong-match."""
    parts = [f"""WITH
pos AS MATERIALIZED (
  SELECT user_id, event_id AS id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
  FROM events),
co AS MATERIALIZED (
  SELECT least(a.id, b.id) AS u, greatest(a.id, b.id) AS v
  FROM pos a JOIN pos b
    ON a.user_id = b.user_id AND b.pos > a.pos AND b.pos - a.pos <= 2),
canon AS MATERIALIZED (SELECT DISTINCT u, v FROM co WHERE u <> v),
filt AS MATERIALIZED (SELECT u, v FROM canon WHERE (u + v) % 7 <> 0),
s0 AS MATERIALIZED (
  SELECT u, v FROM filt UNION ALL SELECT v, u FROM filt)"""]
    prev = "s0"
    for r in range(1, rounds + 1):
        parts.append(f""",
d{r} AS MATERIALIZED (SELECT u AS id, count(*) AS deg FROM {prev} GROUP BY u),
s{r} AS MATERIALIZED (
  SELECT e.u, e.v FROM {prev} e
  JOIN d{r} a ON a.id = e.u AND a.deg >= {k}
  JOIN d{r} b ON b.id = e.v AND b.deg >= {k})""")
        prev = f"s{r}"
    parts.append(
        f"\nSELECT u AS id, count(*) AS core_deg FROM {prev} GROUP BY u"
    )
    return "".join(parts)


def _hits_sql(iters: int = 10) -> str:
    """Unrolled L1-normalized HITS mirroring operators/hits.py float-op
    for float-op: sparse uniform start over distinct sources
    (1.0/count(srcs)), per half-step one gather sum then a divide by the
    half-step total; dense vertex set joined back only at the end."""
    parts = [f"""WITH {_EDGES_MAT_CTE},
params AS MATERIALIZED (SELECT greatest(max(src), max(dst)) + 1 AS n FROM edges),
verts AS MATERIALIZED (SELECT unnest(range(0, n))::BIGINT AS id FROM params),
srcs AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
h0 AS MATERIALIZED (SELECT id, 1.0 / (SELECT count(*) FROM srcs) AS hub FROM srcs)"""]
    prev_h = "h0"
    for k in range(1, iters + 1):
        parts.append(f""",
ar{k} AS MATERIALIZED (SELECT e.dst AS id, sum(h.hub) AS s
         FROM edges e JOIN {prev_h} h ON h.id = e.src GROUP BY e.dst),
a{k} AS MATERIALIZED (SELECT id, s / (SELECT sum(s) FROM ar{k}) AS authority
         FROM ar{k}),
hr{k} AS MATERIALIZED (SELECT e.src AS id, sum(a.authority) AS s
         FROM edges e JOIN a{k} a ON a.id = e.dst GROUP BY e.src),
h{k} AS MATERIALIZED (SELECT id, s / (SELECT sum(s) FROM hr{k}) AS hub
         FROM hr{k})""")
        prev_h = f"h{k}"
    parts.append(f"""
SELECT v.id, round(coalesce(h.hub, 0.0), 9) AS hub,
       round(coalesce(a.authority, 0.0), 9) AS authority
FROM verts v
LEFT JOIN h{iters} h ON h.id = v.id
LEFT JOIN a{iters} a ON a.id = v.id
ORDER BY authority DESC, v.id ASC LIMIT 20""")
    return "".join(parts)


def _bfs_sql(rounds: int = 8) -> str:
    """Unrolled bounded multi-source BFS (operators/bfs.py semantics):
    settled set grows by the anti-joined one-hop frontier each round.
    All-integer, so the comparison is hash-exact; monotone relaxation
    means unrolling exactly max_hops rounds reproduces the engine's
    bounded result even when the graph is not exhausted."""
    parts = [f"""WITH {_EDGES_MAT_CTE},
s0 AS MATERIALIZED (SELECT DISTINCT event_id AS id, 0::BIGINT AS dist
       FROM events WHERE event_id % 97 = 0),
f0 AS MATERIALIZED (SELECT id FROM s0)"""]
    for k in range(1, rounds + 1):
        parts.append(f""",
c{k} AS MATERIALIZED (SELECT DISTINCT e.dst AS id
         FROM edges e JOIN f{k - 1} f ON f.id = e.src),
f{k} AS MATERIALIZED (SELECT c.id FROM c{k} c
         LEFT JOIN s{k - 1} s ON s.id = c.id WHERE s.id IS NULL),
s{k} AS MATERIALIZED (SELECT id, dist FROM s{k - 1}
         UNION ALL SELECT id, {k}::BIGINT AS dist FROM f{k})""")
    parts.append(f"""
SELECT dist, count(*) AS n_vertices FROM s{rounds} GROUP BY dist
ORDER BY dist""")
    return "".join(parts)


def _common_pairs_sql(mode: str) -> str:
    """Co-citation / coupling pairs (operators/linkanalysis.py semantics,
    same degree_cap=1000 — unreached at driver SFs, applied anyway so the
    formulas match exactly)."""
    k, x = ("src", "dst") if mode == "cocitation" else ("dst", "src")
    return f"""WITH {_EDGES_MAT_CTE},
kv AS MATERIALIZED (SELECT DISTINCT {k} AS k, {x} AS x FROM edges
     WHERE {k} <> {x}),
keep AS MATERIALIZED (
  SELECT kv.k, kv.x FROM kv
  JOIN (SELECT k FROM kv GROUP BY k HAVING count(*) <= 1000) d
    ON d.k = kv.k)
SELECT a.x AS u, b.x AS v, count(*) AS n_common
FROM keep a JOIN keep b ON a.k = b.k AND a.x < b.x
GROUP BY a.x, b.x"""


def _walks_sql(rounds: int = 8, transitions: bool = False) -> str:
    """Unrolled deterministic walks (operators/walks.py): each round
    picks, per walk, the out-neighbor minimizing the modular selector
    (31·(dst%M) + 17·(cur%M) + 7·t) % M with min-dst tie-break — pure
    integer arithmetic both engines compute bit-identically. A walk at a
    sink simply produces no row in later rounds (inner join)."""
    m = 1_000_003
    parts = [f"""WITH {_EDGES_MAT_CTE},
de AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
h0 AS MATERIALIZED (SELECT DISTINCT event_id AS walk_id,
       event_id AS vertex FROM events WHERE event_id % 97 = 0)"""]
    for k in range(1, rounds + 1):
        parts.append(f""",
h{k} AS MATERIALIZED (SELECT walk_id, vertex FROM (
    SELECT p.walk_id, e.dst AS vertex,
           row_number() OVER (PARTITION BY p.walk_id ORDER BY
             (31 * (e.dst % {m}) + 17 * (p.vertex % {m}) + 7 * {k}) % {m},
             e.dst) AS rn
    FROM h{k - 1} p JOIN de e ON p.vertex = e.src) WHERE rn = 1)""")
    union = "\nUNION ALL ".join(
        f"SELECT walk_id, {k}::BIGINT AS step, vertex FROM h{k}"
        for k in range(rounds + 1)
    )
    if not transitions:
        parts.append("\n" + union)
    else:
        parts.append(f""",
allrows AS MATERIALIZED ({union})
SELECT a.vertex AS src, b.vertex AS dst, count(*) AS n_walks
FROM allrows a JOIN allrows b
  ON a.walk_id = b.walk_id AND b.step = a.step + 1
GROUP BY a.vertex, b.vertex""")
    return "".join(parts)


def _nbhd_sql(rounds: int = 4, growth: bool = False) -> str:
    """Unrolled FM neighborhood sketches (operators/neighborhood.py):
    register j of vertex v starts as the lowest set bit of the modular
    hash h_j(v) and each round ORs in the out-neighbors' registers
    (bit_or aggregate + left join so sinks keep their sketch). All
    integer arithmetic — both engines agree bit-for-bit. The growth
    variant emits (superstep, total set bits) for t = 0..rounds; totals
    at the fixpoint repeat, matching the Spark wrapper's padding."""
    p = 2_147_483_647
    regs = list(range(8))
    hs = ", ".join(
        f"(({2_654_435_761 + 2 * j} * (id % {p}) + {98_765 + 12_345 * j})"
        f" % {p} + 1) AS h{j}"
        for j in regs
    )
    init = ", ".join(f"(h{j} & (-h{j}))::BIGINT AS s{j}" for j in regs)
    parts = [f"""WITH {_EDGES_MAT_CTE},
de AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
verts AS MATERIALIZED (
  SELECT src AS id FROM de UNION SELECT dst AS id FROM de),
s0r AS MATERIALIZED (
  SELECT id, {init} FROM (SELECT id, {hs} FROM verts))"""]
    for k in range(1, rounds + 1):
        gsel = ", ".join(f"bit_or(p.s{j}) AS g{j}" for j in regs)
        osel = ", ".join(
            f"(v.s{j} | coalesce(g.g{j}, 0))::BIGINT AS s{j}" for j in regs
        )
        parts.append(f""",
s{k}r AS MATERIALIZED (
  SELECT v.id, {osel}
  FROM s{k - 1}r v LEFT JOIN (
    SELECT e.src AS id, {gsel}
    FROM de e JOIN s{k - 1}r p ON p.id = e.dst GROUP BY e.src) g
  ON g.id = v.id)""")
    if not growth:
        cols = ", ".join(f"s{j}" for j in regs)
        parts.append(f"\nSELECT id, {cols} FROM s{rounds}r")
    else:
        bits = " + ".join(f"bit_count(s{j})" for j in regs)
        union = "\nUNION ALL ".join(
            f"SELECT {k}::BIGINT AS superstep,"
            f" (SELECT sum({bits})::BIGINT FROM s{k}r) AS total_bits"
            for k in range(rounds + 1)
        )
        parts.append("\n" + union)
    return "".join(parts)


def _sssp_sql(rounds: int = 6) -> str:
    """Unrolled dense Bellman-Ford relaxation (operators/paths.py
    semantics): d_k(v) = min(d_{k-1}(v), min over edges (u,v) of
    d_{k-1}(u) + w). The engine's frontier optimization computes the
    identical prefix (a non-improved u contributes nothing new), and the
    integer-valued weights make every double sum/min exact, so the
    comparison is hash-exact without rounding."""
    parts = [f"""WITH {_EDGES_MAT_CTE},
we AS MATERIALIZED (SELECT src, dst,
       (1 + (src + dst) % 5)::DOUBLE AS w FROM edges),
d0 AS MATERIALIZED (SELECT DISTINCT event_id AS id, 0.0::DOUBLE AS dist
       FROM events WHERE event_id % 97 = 0)"""]
    for k in range(1, rounds + 1):
        parts.append(f""",
d{k} AS MATERIALIZED (SELECT id, min(dist) AS dist FROM (
    SELECT id, dist FROM d{k - 1}
    UNION ALL
    SELECT e.dst AS id, d.dist + e.w AS dist
      FROM we e JOIN d{k - 1} d ON d.id = e.src
  ) GROUP BY id)""")
    parts.append(f"""
SELECT id, dist FROM d{rounds}""")
    return "".join(parts)



# canonical undirected simple edges of the window-2 cooccurrence graph —
# shared by the triangle_count and clustering_coefficient oracles
_COOC_CANON_CTE = """
pos AS (
  SELECT user_id, event_id AS id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
  FROM events),
co AS (
  SELECT least(a.id, b.id) AS u, greatest(a.id, b.id) AS v
  FROM pos a JOIN pos b
    ON a.user_id = b.user_id AND b.pos > a.pos AND b.pos - a.pos <= 2),
canon AS (SELECT DISTINCT u, v FROM co WHERE u <> v)
"""


def _clustering_sql() -> str:
    return f"""
WITH {_COOC_CANON_CTE},
deg AS (SELECT id, count(*) AS degree FROM (
    SELECT u AS id FROM canon UNION ALL SELECT v FROM canon) GROUP BY id),
tris AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
         FROM canon e1
         JOIN canon e2 ON e2.u = e1.v
         JOIN canon e3 ON e3.u = e1.u AND e3.v = e2.v),
pvt AS (SELECT id, count(*) AS triangles FROM (
    SELECT a AS id FROM tris
    UNION ALL SELECT b FROM tris
    UNION ALL SELECT c FROM tris) GROUP BY id)
SELECT d.id,
       coalesce(p.triangles, 0) AS triangles,
       d.degree,
       round(CASE WHEN d.degree >= 2
                  THEN coalesce(p.triangles, 0)
                       / (d.degree * (d.degree - 1) / 2.0)
                  ELSE 0.0 END, 6) AS coefficient
FROM deg d LEFT JOIN pvt p ON p.id = d.id
"""


def _quality_score_sql() -> str:
    pad = "(' ' || lower(t) || ' ')"
    stop_sum = " + ".join(_occ_sql(pad, f" {w} ") for w in _STOPWORDS)
    ntok = (
        "CASE WHEN length(trim(t)) = 0 THEN 0 "
        "ELSE len(regexp_split_to_array(trim(t), '\\s+')) END"
    )
    return f"""
SELECT doc_id,
  round(greatest(0.0, least(1.0,
    (CASE WHEN mean_tok >= 3 AND mean_tok <= 12 THEN 1.0 ELSE 0.5 END)
    * (0.5 + least(stop * 2, 0.5))
    * (1.0 - least(punct * 2, 0.5))
    * (1.0 - least(digit * 2, 0.5))
  )), 6) AS quality
FROM (
  SELECT doc_id,
         ({stop_sum}) / greatest(n_tokens, 1.0) AS stop,
         (length(t) - length(regexp_replace(t, '{_PUNCT_CLASS}', '', 'g')))
           / n AS punct,
         (length(t) - length(regexp_replace(t, '[0-9]', '', 'g')))
           / n AS digit,
         n / greatest(n_tokens, 1.0) AS mean_tok
  FROM (
    SELECT doc_id, t,
           greatest(length(t), 1)::DOUBLE AS n,
           ({ntok})::DOUBLE AS n_tokens
    FROM (SELECT doc_id, coalesce(text, '') AS t FROM documents)))
"""


def _langid_sql() -> str:
    pad = f"(' ' || {_NORM_TEXT_SQL} || ' ')"
    scores = {
        lang: " + ".join(_occ_sql(pad, f" {w} ") for w in words)
        for lang, words in _LANG_MARKERS.items()
    }
    s = {lang: f"s_{lang}" for lang in scores}
    case = (
        f"CASE WHEN mx <= 0 THEN 'und' "
        f"WHEN {s['de']} = mx THEN 'de' "
        f"WHEN {s['en']} = mx THEN 'en' "
        f"WHEN {s['es']} = mx THEN 'es' "
        f"ELSE 'fr' END"
    )
    inner = ", ".join(f"({expr}) AS s_{lang}" for lang, expr in scores.items())
    return f"""
SELECT doc_id, {case} AS lang FROM (
  SELECT doc_id, {inner},
         greatest(s_de, s_en, s_es, s_fr) AS mx
  FROM documents)
"""


def _katz_sql(iters: int = 20) -> str:
    """Unrolled Katz power iteration mirroring operators/katz.py float-op
    for float-op: x0 = 1.0 everywhere, x_{k}(v) = 1.0 + 0.05 * Σ_{u→v}
    x_{k-1}(u) — damping literals written as 0.05/1.0 so both engines
    parse the same doubles; parallel edges contribute multiply (walk
    counting) in both."""
    parts = [f"""WITH {_EDGES_MAT_CTE},
params AS MATERIALIZED (SELECT greatest(max(src), max(dst)) + 1 AS n FROM edges),
verts AS MATERIALIZED (SELECT unnest(range(0, n))::BIGINT AS id FROM params),
x0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE AS katz FROM verts)"""]
    prev = "x0"
    for k in range(1, iters + 1):
        parts.append(f""",
c{k} AS MATERIALIZED (SELECT e.dst AS id, sum(x.katz) AS contrib
         FROM edges e JOIN {prev} x ON x.id = e.src GROUP BY e.dst),
x{k} AS MATERIALIZED (SELECT v.id,
         1.0::DOUBLE + 0.05::DOUBLE * coalesce(c.contrib, 0.0::DOUBLE)
           AS katz
         FROM verts v LEFT JOIN c{k} c ON c.id = v.id)""")
        prev = f"x{k}"
    parts.append(
        f"\nSELECT id, round(katz, 9) AS katz FROM {prev} "
        "ORDER BY katz DESC, id ASC LIMIT 20"
    )
    return "".join(parts)


def _landmark_sql(rounds: int = 4, harmonic: bool = False) -> str:
    """Unrolled LABELED multi-source BFS (operators/bfs.py
    landmark_distances semantics): the settled set is keyed on
    (id, landmark) so each landmark's frontier expands independently.
    harmonic=True aggregates Σ 1/dist per landmark over the reached
    ball (dist > 0) instead of emitting the raw distance rows."""
    parts = [f"""WITH {_EDGES_MAT_CTE},
s0 AS MATERIALIZED (SELECT DISTINCT event_id AS id, event_id AS landmark,
       0::BIGINT AS dist FROM events WHERE event_id % 997 = 0),
f0 AS MATERIALIZED (SELECT id, landmark FROM s0)"""]
    for k in range(1, rounds + 1):
        parts.append(f""",
c{k} AS MATERIALIZED (SELECT DISTINCT e.dst AS id, f.landmark
         FROM edges e JOIN f{k - 1} f ON f.id = e.src),
f{k} AS MATERIALIZED (SELECT c.id, c.landmark FROM c{k} c
         LEFT JOIN s{k - 1} s ON s.id = c.id AND s.landmark = c.landmark
         WHERE s.id IS NULL),
s{k} AS MATERIALIZED (SELECT id, landmark, dist FROM s{k - 1}
         UNION ALL SELECT id, landmark, {k}::BIGINT AS dist FROM f{k})""")
    if harmonic == "closeness":
        parts.append(f"""
SELECT landmark, count(*) AS n_reached, sum(dist)::BIGINT AS sum_dist,
       count(*)::DOUBLE / sum(dist) AS closeness
FROM s{rounds} WHERE dist > 0 GROUP BY landmark""")
    elif harmonic:
        parts.append(f"""
SELECT landmark, round(sum(1.0 / dist), 9) AS harmonic,
       count(*) AS n_reached
FROM s{rounds} WHERE dist > 0 GROUP BY landmark""")
    else:
        parts.append(f"\nSELECT id, landmark, dist FROM s{rounds}")
    return "".join(parts)


# Exact char-5-gram Jaccard pairs at threshold 0.9 — the plain
# inverted-index formulation (every pair sharing any shingle, then the
# exact Jaccard filter). The ENGINE side prunes candidates with a prefix
# filter; this oracle does not — same result by the prefix-filter
# losslessness theorem (Chaudhuri ICDE'06), which is exactly what the
# hash check verifies. Shingle construction mirrors
# functions/dedup.char_shingles (substr window over the canonical
# normalized text, list_distinct, greatest(len-4, 1) floor).
_JACCARD_PAIRS_CTE = f"""
norm AS MATERIALIZED (
  SELECT doc_id, {_NORM_TEXT_SQL} AS t FROM documents),
sh AS MATERIALIZED (
  SELECT doc_id, unnest(list_distinct(
    [substr(t, i, 5) for i in range(1, greatest(length(t) - 4, 1) + 1)]
  )) AS g FROM norm),
sizes AS MATERIALIZED (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
common AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
jpairs AS MATERIALIZED (
  SELECT id_a, id_b,
         c::DOUBLE / (sa.sz + sb.sz - c)::DOUBLE AS jaccard
  FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE c::DOUBLE / (sa.sz + sb.sz - c)::DOUBLE >= 0.9)"""


def _near_dup_clusters_sql(
    rounds: int = 6, final_select: str | None = None
) -> str:
    """Jaccard pair CTE + unrolled synchronous min-label propagation over
    the undirected pair graph (functions/dedup.near_dup_clusters
    semantics). Measured cluster eccentricity from the min vertex is 1
    at both gate SFs; {rounds} unrolled rounds is the safety margin —
    fixpoints are stable under extra rounds, an insufficient depth
    surfaces as a value mismatch, never a silent wrong-match.
    ``final_select`` (referencing the label CTE ``l{rounds}``) lets the
    leakage-safe-split oracle reuse the chain."""
    parts = [f"""WITH {_JACCARD_PAIRS_CTE},
sym AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM jpairs
  UNION ALL SELECT id_b AS u, id_a AS v FROM jpairs),
l0 AS MATERIALIZED (
  SELECT DISTINCT u AS id, u AS label FROM sym)"""]
    prev = "l0"
    for k in range(1, rounds + 1):
        parts.append(f""",
l{k} AS MATERIALIZED (
  SELECT l.id, least(l.label, coalesce(min(n.label), l.label)) AS label
  FROM {prev} l
  LEFT JOIN sym e ON e.u = l.id
  LEFT JOIN {prev} n ON n.id = e.v
  GROUP BY l.id, l.label)""")
        prev = f"l{k}"
    parts.append(
        "\n" + (
            final_select.replace("lN", prev)
            if final_select
            else f"SELECT id AS doc_id, label AS cluster_id FROM {prev}"
        )
    )
    return "".join(parts)


def _doc_repetition_sql() -> str:
    """Word/bigram repetition signals mirroring functions/text.py
    repetition_signals: token counts over the canonical normalized text,
    bigram slots = n_words - 1 (0 when a doc has < 2 tokens)."""
    return f"""
WITH norm AS MATERIALIZED (
  SELECT doc_id, {_NORM_TEXT_SQL} AS t FROM documents),
toks AS MATERIALIZED (
  SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM norm),
wc AS MATERIALIZED (
  SELECT doc_id, term, count(*) AS c FROM toks WHERE term <> ''
  GROUP BY doc_id, term),
ws AS MATERIALIZED (
  SELECT doc_id, sum(c)::BIGINT AS n_words, count(*) AS n_distinct_words,
         max(c) AS top_word_c
  FROM wc GROUP BY doc_id),
warr AS MATERIALIZED (
  SELECT doc_id, string_split(t, ' ') AS w FROM norm),
bg AS MATERIALIZED (
  SELECT doc_id,
         unnest([w[i] || ' ' || w[i + 1] for i in range(1, len(w))]) AS g
  FROM warr WHERE len(w) >= 2),
bc AS MATERIALIZED (
  SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
bs AS MATERIALIZED (
  SELECT doc_id, max(c) AS top_bigram_c FROM bc GROUP BY doc_id)
SELECT ws.doc_id, ws.n_words, ws.n_distinct_words,
  1.0 - ws.n_distinct_words::DOUBLE / ws.n_words::DOUBLE
    AS dup_word_frac,
  ws.top_word_c::DOUBLE / ws.n_words::DOUBLE AS top_word_frac,
  CASE WHEN ws.n_words >= 2
       THEN coalesce(bs.top_bigram_c, 0)::DOUBLE
            / (ws.n_words - 1)::DOUBLE
       ELSE 0.0 END AS top_bigram_frac
FROM ws LEFT JOIN bs ON bs.doc_id = ws.doc_id
"""


def _ktruss_sql(k: int = 3, rounds: int = 4) -> str:
    """Unrolled synchronous k-truss peeling (operators/truss.py
    semantics) over the mod-7-filtered window-2 co-occurrence graph:
    per round one ordered-wedge triangle enumeration (each triangle
    a<b<c appears once — all three edges canonical) + a per-edge
    support count + the >= k-2 filter. Measured fixpoint is 2 rounds at
    both gate SFs; {rounds} unrolled rounds is the margin (fixpoints
    are stable under extra rounds). Final support is recomputed inside
    the settled truss, mirroring the engine's readout."""
    parts = [f"""WITH
pos AS MATERIALIZED (
  SELECT user_id, event_id AS id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
  FROM events),
co AS MATERIALIZED (
  SELECT least(a.id, b.id) AS u, greatest(a.id, b.id) AS v
  FROM pos a JOIN pos b
    ON a.user_id = b.user_id AND b.pos > a.pos AND b.pos - a.pos <= 2),
s0 AS MATERIALIZED (
  SELECT DISTINCT u, v FROM co WHERE u <> v AND (u + v) % 7 <> 0)"""]
    prev = "s0"
    for r in range(1, rounds + 1):
        parts.append(f""",
tri{r} AS MATERIALIZED (
  SELECT ab.u AS a, ab.v AS b, bc.v AS c
  FROM {prev} ab JOIN {prev} bc ON bc.u = ab.v
  JOIN {prev} ac ON ac.u = ab.u AND ac.v = bc.v),
sup{r} AS MATERIALIZED (
  SELECT u, v, count(*) AS s FROM (
    SELECT a AS u, b AS v FROM tri{r}
    UNION ALL SELECT b AS u, c AS v FROM tri{r}
    UNION ALL SELECT a AS u, c AS v FROM tri{r})
  GROUP BY u, v),
s{r} AS MATERIALIZED (
  SELECT e.u, e.v FROM {prev} e
  JOIN sup{r} p ON p.u = e.u AND p.v = e.v AND p.s >= {k - 2})""")
        prev = f"s{r}"
    parts.append(f""",
trif AS MATERIALIZED (
  SELECT ab.u AS a, ab.v AS b, bc.v AS c
  FROM {prev} ab JOIN {prev} bc ON bc.u = ab.v
  JOIN {prev} ac ON ac.u = ab.u AND ac.v = bc.v),
supf AS MATERIALIZED (
  SELECT u, v, count(*) AS s FROM (
    SELECT a AS u, b AS v FROM trif
    UNION ALL SELECT b AS u, c AS v FROM trif
    UNION ALL SELECT a AS u, c AS v FROM trif)
  GROUP BY u, v)
SELECT e.u, e.v, coalesce(p.s, 0) AS support
FROM {prev} e LEFT JOIN supf p ON p.u = e.u AND p.v = e.v""")
    return "".join(parts)


def _emb_quantize_sql() -> str:
    """SQ8 quantization mirroring functions/similarity.scalar_quantize
    float-op for float-op: scale = (hi - lo) / 255.0 per dimension,
    code = least(255, floor((v - lo) / scale)), dequant = lo + code *
    scale, err = (v - dequant) * (v - dequant) (a plain multiply, not
    pow, to match Spark's expression exactly). All literals DOUBLE-cast
    to keep DuckDB out of DECIMAL inference."""
    code_expr = (
        "CASE WHEN (his[i] - los[i]) > 0.0::DOUBLE "
        "THEN least(255, floor((embedding[i]::DOUBLE - los[i]) "
        "/ ((his[i] - los[i]) / 255.0::DOUBLE))::INT) ELSE 0 END"
    )
    dequant_expr = (
        f"(los[i] + ({code_expr})::DOUBLE "
        "* ((his[i] - los[i]) / 255.0::DOUBLE))"
    )
    err_expr = (
        f"(embedding[i]::DOUBLE - {dequant_expr}) "
        f"* (embedding[i]::DOUBLE - {dequant_expr})"
    )
    return f"""
WITH v AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
expl AS MATERIALIZED (
  SELECT vec_id,
         unnest([{{'pos': i - 1, 'val': embedding[i]::DOUBLE}}
                 for i in range(1, len(embedding) + 1)]) AS s
  FROM v),
dims AS MATERIALIZED (
  SELECT s.pos AS pos, min(s.val) AS lo, max(s.val) AS hi
  FROM expl GROUP BY s.pos),
bounds AS MATERIALIZED (
  SELECT list(lo ORDER BY pos) AS los, list(hi ORDER BY pos) AS his
  FROM dims),
q AS (
  SELECT vec_id,
         [{code_expr} for i in range(1, len(embedding) + 1)] AS codes,
         [{err_expr} for i in range(1, len(embedding) + 1)] AS errs
  FROM v, bounds)
SELECT vec_id, array_to_string(codes, ',') AS codes,
       round(list_sum(errs) / len(errs)::DOUBLE, 9) AS mse
FROM q
"""


def _top_docs_per_lang_sql() -> str:
    """Top-3 per language by the (already-rounded-to-6) quality score —
    ranks over the rounded value with doc_id tie-break, mirroring the
    Spark window exactly."""
    return f"""
WITH q AS MATERIALIZED ({_quality_score_sql()}),
j AS MATERIALIZED (
  SELECT d.lang, d.doc_id, q.quality
  FROM documents d JOIN q ON q.doc_id = d.doc_id),
r AS (SELECT lang, doc_id, quality,
             row_number() OVER (PARTITION BY lang
                                ORDER BY quality DESC, doc_id ASC) AS rnk
      FROM j)
SELECT lang, doc_id, quality, rnk FROM r WHERE rnk <= 3
"""


def oracle_sql() -> dict[str, str]:
    return {
        "edges_reply": f"WITH {_EDGES_CTE} SELECT src, dst FROM reply",
        "edges_handoff": f"WITH {_EDGES_CTE} SELECT src, dst FROM handoff",
        "out_degree": (
            f"WITH {_EDGES_CTE} "
            "SELECT src AS id, count(*) AS out_deg FROM edges GROUP BY src"
        ),
        "in_degree": (
            f"WITH {_EDGES_CTE} "
            "SELECT dst AS id, count(*) AS in_deg FROM edges GROUP BY dst"
        ),
        "degree_stats": (
            f"WITH {_EDGES_CTE} "
            "SELECT num_nodes, num_edges, "
            "num_edges / (num_nodes::DOUBLE * (num_nodes::DOUBLE - 1)) AS density, "
            "num_edges / num_nodes::DOUBLE AS mean_out_degree FROM ("
            "SELECT greatest(max(src), max(dst)) + 1 AS num_nodes, "
            "count(*) AS num_edges FROM edges)"
        ),
        "top_out_degree": (
            f"WITH {_EDGES_CTE} "
            "SELECT src AS id, count(*) AS out_deg FROM edges GROUP BY src "
            "ORDER BY out_deg DESC, id ASC LIMIT 20"
        ),
        "dangling_count": (
            f"WITH {_EDGES_CTE} "
            "SELECT greatest(max(src), max(dst)) + 1 - "
            "count(DISTINCT src) AS dangling_count FROM edges"
        ),
        "adjacency": (
            f"WITH {_EDGES_CTE} "
            "SELECT src, array_to_string(list_sort(list(dst)), ',') "
            "AS neighbors FROM edges GROUP BY src"
        ),
        "degree_histogram": (
            f"WITH {_EDGES_CTE}, "
            "od AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src) "
            "SELECT out_deg AS degree, count(*) AS num_vertices "
            "FROM od GROUP BY out_deg"
        ),
        "triangle_count": """
WITH pos AS (
  SELECT user_id, event_id AS id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
  FROM events),
co AS (
  SELECT least(a.id, b.id) AS u, greatest(a.id, b.id) AS v
  FROM pos a JOIN pos b
    ON a.user_id = b.user_id AND b.pos > a.pos AND b.pos - a.pos <= 2),
canon AS (SELECT DISTINCT u, v FROM co WHERE u <> v)
SELECT count(*) AS triangles
FROM canon e1
JOIN canon e2 ON e2.u = e1.v
JOIN canon e3 ON e3.u = e1.u AND e3.v = e2.v
""",
        "doc_exact_dedup": (
            "SELECT min(doc_id) AS keep_id, count(*) AS dup_count "
            f"FROM documents GROUP BY {_NORM_TEXT_SQL}"
        ),
        "doc_token_stats": f"""
SELECT doc_id,
       length(text) AS n_chars_m,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
         AS n_bpeish
FROM documents
""",
        "doc_quality": f"""
SELECT doc_id,
  round((length(t) - length(regexp_replace(t, '{_PUNCT_CLASS}', '', 'g')))
        / greatest(length(t), 1), 6) AS punct_ratio,
  round((length(t) - length(regexp_replace(t, '[A-Z]', '', 'g')))
        / greatest(length(t), 1), 6) AS upper_ratio,
  round((length(t) - length(regexp_replace(t, '[0-9]', '', 'g')))
        / greatest(length(t), 1), 6) AS digit_ratio
FROM (SELECT doc_id, coalesce(text, '') AS t FROM documents)
""",
        "doc_langid": _langid_sql(),
        "doc_quality_score": _quality_score_sql(),
        "emb_near_dups": """
WITH aug AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000000, embedding FROM (
    SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 30)
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 6) AS cosine
FROM aug a JOIN aug b ON b.vec_id > a.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                             b.embedding::DOUBLE[]) >= 0.9
""",
        "connected_components": _cc_sql(),
        "label_propagation": _lpa_sql(),
        "pagerank_fixed20": _pagerank_fixed_sql(),
        "pagerank_weighted20": _pagerank_fixed_sql(weighted=True),
        "pagerank_personalized20": _pagerank_fixed_sql(personalized=True),
        "k_core": _kcore_sql(),
        "session_window": """
WITH ordered AS (
  SELECT user_id, ts, event_id, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_us
  FROM events),
sess AS (
  SELECT user_id, us,
         sum(CASE WHEN prev_us IS NULL
                    OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
  FROM ordered)
SELECT user_id, min(us) AS start_us,
       max(us) + 1800000000 AS end_us,
       count(*) AS n_events
FROM sess GROUP BY user_id, sid
""",
        "clustering_coefficient": _clustering_sql(),
        "isolated_count": (
            f"WITH {_EDGES_CTE} "
            "SELECT greatest(max(src), max(dst)) + 1 - ("
            "SELECT count(*) FROM ("
            "SELECT src AS id FROM edges UNION SELECT dst FROM edges)"
            ") AS isolated_count FROM edges"
        ),
        "scale_free_heuristic": (
            f"WITH {_EDGES_CTE}, "
            "od AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src), "
            "s AS (SELECT max(out_deg) AS max_degree, "
            "avg(out_deg) AS avg_degree FROM od) "
            "SELECT max_degree, round(avg_degree, 9) AS avg_degree, "
            "(SELECT count(*) FROM od, s WHERE od.out_deg > s.max_degree / 2) "
            "AS near_max_hubs, "
            "max_degree > avg_degree * 3 AS looks_scale_free FROM s"
        ),
        "sessionize": """
WITH ordered AS (
  SELECT event_id, user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events)
SELECT event_id, user_id,
       (sum(CASE WHEN prev_ts IS NULL
                   OR date_diff('second', prev_ts, ts) > 1800
                 THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING))::BIGINT AS session_idx
FROM ordered
""",
        "session_stats": """
WITH ordered AS (
  SELECT event_id, user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events),
sess AS (
  SELECT event_id, user_id, floor(epoch(ts))::BIGINT AS ep,
         (sum(CASE WHEN prev_ts IS NULL
                     OR date_diff('second', prev_ts, ts) > 1800
                   THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING))::BIGINT AS session_idx
  FROM ordered)
SELECT user_id, session_idx, count(*) AS n_events,
       max(ep) - min(ep) AS duration_sec
FROM sess GROUP BY user_id, session_idx
""",
        "neighbor_degree": f"""
WITH {_EDGES_CTE},
od AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
ind AS (SELECT dst, count(*) AS in_deg FROM edges GROUP BY dst)
SELECT out_deg, count(*) AS n_edges,
       round(avg(in_deg), 6) AS avg_neighbor_in_deg
FROM edges JOIN od USING (src) JOIN ind USING (dst)
GROUP BY out_deg
""",
        "doc_shingles": f"""
WITH norm AS (SELECT doc_id, {_NORM_TEXT_SQL} AS t FROM documents)
SELECT doc_id,
       len(list_distinct(
         [substr(t, i, 5)
          for i in range(1, greatest(length(t) - 4, 1) + 1)]
       )) AS n_shingles
FROM norm
""",
        "knn_bruteforce": """
WITH q AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
           AS cos
  FROM embeddings c, q WHERE c.vec_id <> q.vec_id)
SELECT query_id, neighbor_id, rnk FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rnk
  FROM scored)
WHERE rnk <= 5
""",
        "hits10": _hits_sql(),
        "bfs_distance": _bfs_sql(),
        "doc_tfidf": f"""
WITH norm AS (SELECT doc_id, {_NORM_TEXT_SQL} AS t FROM documents),
toks AS (SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM norm),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       WHERE term <> '' GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.term, tf.tf,
       round(tf.tf * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0), 6) AS tfidf
FROM tf JOIN df USING (term) CROSS JOIN n
""",
        "doc_dedup_map": (
            "SELECT doc_id, min(doc_id) OVER (PARTITION BY "
            f"coalesce({_NORM_TEXT_SQL}, '')) AS keep_id FROM documents"
        ),
        "emb_centroids": """
WITH dims AS (
  SELECT unnest(range(0, (SELECT max(len(embedding)) FROM embeddings)))::BIGINT
    AS pos)
SELECT e.label, d.pos,
       round(avg(e.embedding[d.pos + 1]::DOUBLE), 6) AS centroid_val,
       count(*) AS n_vectors
FROM embeddings e CROSS JOIN dims d
WHERE e.embedding IS NOT NULL AND d.pos < len(e.embedding)
GROUP BY e.label, d.pos
""",
        "sssp_bounded": _sssp_sql(),
        "reciprocity": f"""
WITH {_EDGES_MAT_CTE},
d AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
n AS (SELECT count(*) AS n_edges FROM d),
r AS (SELECT count(*) AS n_reciprocal
      FROM d a JOIN d b ON b.src = a.dst AND b.dst = a.src)
SELECT n.n_edges, r.n_reciprocal,
       round(r.n_reciprocal / n.n_edges::DOUBLE, 9) AS reciprocity
FROM n CROSS JOIN r
""",
        "assortativity": f"""
WITH {_EDGES_MAT_CTE},
od AS (SELECT src AS id, count(*) AS out_deg FROM edges GROUP BY src),
ind AS (SELECT dst AS id, count(*) AS in_deg FROM edges GROUP BY dst)
SELECT count(*) AS n_edges,
       round(corr(od.out_deg::DOUBLE, ind.in_deg::DOUBLE), 6)
         AS assortativity
FROM edges e JOIN od ON od.id = e.src JOIN ind ON ind.id = e.dst
""",
        "component_sizes": _cc_sql(
            final="SELECT size, count(*) AS n_components FROM "
            "(SELECT lbl, count(*) AS size FROM {labels} GROUP BY lbl) "
            "GROUP BY size"
        ),
        "tool_stats": """
SELECT event_type, count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       epoch_us(min(ts)) AS first_us,
       epoch_us(max(ts)) AS last_us,
       round(avg(value), 6) AS mean_value
FROM events GROUP BY event_type
""",
        "conv_stats": """
SELECT user_id, count(*) AS n_events,
       count(DISTINCT event_type) AS n_event_types,
       epoch_us(min(ts)) AS start_us,
       epoch_us(max(ts)) AS end_us,
       epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
FROM events GROUP BY user_id
""",
        "top_terms": f"""
WITH norm AS (SELECT doc_id, {_NORM_TEXT_SQL} AS t FROM documents),
toks AS (SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM norm),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       WHERE term <> '' GROUP BY doc_id, term)
SELECT term, count(*) AS df, sum(tf)::BIGINT AS total_tf
FROM tf GROUP BY term
ORDER BY df DESC, total_tf DESC, term ASC LIMIT 50
""",
        "cocitation": _common_pairs_sql("cocitation"),
        "coupling": _common_pairs_sql("coupling"),
        "walks8": _walks_sql(8),
        "walk_transitions": _walks_sql(8, transitions=True),
        "nbhd_sketch4": _nbhd_sql(4),
        "nbhd_growth8": _nbhd_sql(8, growth=True),
        "katz20": _katz_sql(20),
        "landmark_dist4": _landmark_sql(4),
        "harmonic4": _landmark_sql(4, harmonic=True),
        "closeness4": _landmark_sql(4, harmonic="closeness"),
        "ngram_jaccard": (
            f"WITH {_JACCARD_PAIRS_CTE}\n"
            "SELECT id_a, id_b, round(jaccard, 9) AS jaccard FROM jpairs"
        ),
        "near_dup_clusters": _near_dup_clusters_sql(),
        "doc_repetition": _doc_repetition_sql(),
        "top_docs_per_lang": _top_docs_per_lang_sql(),
        "modularity_lpa5": _modularity_sql(5),
        "powerlaw_alpha": f"""
WITH {_EDGES_MAT_CTE},
tdeg AS (SELECT id, count(*) AS deg FROM (
  SELECT src AS id FROM edges UNION ALL SELECT dst AS id FROM edges)
  GROUP BY id),
tail AS (SELECT deg FROM tdeg WHERE deg >= 2)
SELECT count(*) AS n_tail,
       round(1.0::DOUBLE + count(*) / sum(ln(deg::DOUBLE / 2.0::DOUBLE)), 6)
         AS alpha
FROM tail
""",
        "doc_profile": """SELECT 'doc_id' AS "column", count(*) AS n_rows, count(*) - count(doc_id) AS n_null, count(DISTINCT doc_id) AS n_distinct, min(doc_id)::VARCHAR AS min_str, max(doc_id)::VARCHAR AS max_str FROM documents
UNION ALL SELECT 'text' AS "column", count(*) AS n_rows, count(*) - count(text) AS n_null, count(DISTINCT text) AS n_distinct, min(text)::VARCHAR AS min_str, max(text)::VARCHAR AS max_str FROM documents
UNION ALL SELECT 'lang' AS "column", count(*) AS n_rows, count(*) - count(lang) AS n_null, count(DISTINCT lang) AS n_distinct, min(lang)::VARCHAR AS min_str, max(lang)::VARCHAR AS max_str FROM documents
UNION ALL SELECT 'source' AS "column", count(*) AS n_rows, count(*) - count(source) AS n_null, count(DISTINCT source) AS n_distinct, min(source)::VARCHAR AS min_str, max(source)::VARCHAR AS max_str FROM documents
UNION ALL SELECT 'n_chars' AS "column", count(*) AS n_rows, count(*) - count(n_chars) AS n_null, count(DISTINCT n_chars) AS n_distinct, min(n_chars)::VARCHAR AS min_str, max(n_chars)::VARCHAR AS max_str FROM documents""",
        "k_truss3": _ktruss_sql(3),
        "pr_convergence10": _pagerank_fixed_sql(10, trajectory=True),
        "emb_quantize": _emb_quantize_sql(),
        "dataset_split": _dataset_split_sql(),
        "bigram_lift": _bigram_lift_sql(5),
        "scc": _scc_reach_sql(30),
        "pseudo_diameter": _pseudo_diameter_sql(6),
        "doc_quantiles": (
            "SELECT "
            + ", ".join(
                f"quantile_cont(n_chars, {p}) AS q{str(p)[2:]}"
                for p in (0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
            )
            + " FROM documents"
        ),
        "scc_dag": _scc_reach_sql(
            30,
            wrap_mod=60,
            final=(
                "SELECT a.scc AS src_scc, b.scc AS dst_scc, "
                "count(*) AS n_links "
                "FROM edges e "
                "JOIN labeling a ON e.src = a.id "
                "JOIN labeling b ON e.dst = b.id "
                "WHERE a.scc <> b.scc GROUP BY a.scc, b.scc"
            ),
        ),
        "stratified_sample": _stratified_sample_sql(),
        "decontaminate": _decontaminate_sql(4),
        "doc_entropy": _doc_entropy_sql(),
        "topo_levels": _topo_levels_sql(30, 10),
        "subgraph_sample": _subgraph_sample_sql(0.3),
        "quality_filter": _quality_filter_sql(0.25),
        "windowed_counts": _windowed_counts_sql(3_600_000_000),
        "test_containment": _containment_sql(4),
        "mis": _mis_sql(30, 12),
        "maximal_matching": _matching_sql(30, 12),
        "graph_coloring": _coloring_sql(30, 24),
        "sample_k": _sample_k_sql(50),
        "weighted_sample_k": _weighted_sample_k_sql(60),
        "neighbor_sample": _neighbor_sample_sql(3),
        "tool_transitions": """
WITH pairs AS MATERIALIZED (
  SELECT event_type AS from_tool,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS to_tool
  FROM events WHERE user_id IS NOT NULL),
counts AS MATERIALIZED (
  SELECT from_tool, to_tool, count(*) AS n FROM pairs
  WHERE to_tool IS NOT NULL GROUP BY from_tool, to_tool)
SELECT from_tool, to_tool, n,
       n::DOUBLE / sum(n) OVER (PARTITION BY from_tool) AS prob
FROM counts
""",
        "zorder_layout": _zorder_layout_sql(8),
        "conv_entropy": """
WITH cnt AS MATERIALIZED (
  SELECT user_id, event_type, count(*) AS c FROM events
  WHERE user_id IS NOT NULL GROUP BY user_id, event_type),
agg AS (
  SELECT user_id, sum(c)::BIGINT AS t, count(*) AS nd,
         list_reduce(
           list_prepend(0.0::DOUBLE, list_sort(list(c::DOUBLE))),
           (acc, x) -> acc + x * ln(x)) AS sc
  FROM cnt GROUP BY user_id)
SELECT user_id, t AS n_events, nd AS n_tools,
       round(ln(t::DOUBLE) - sc / t::DOUBLE, 6) AS entropy,
       round(CASE WHEN nd > 1
                  THEN (ln(t::DOUBLE) - sc / t::DOUBLE) / ln(nd::DOUBLE)
                  ELSE 0.0 END, 6) AS entropy_ratio
FROM agg
""",
        "tool_latency": """
WITH lat AS MATERIALIZED (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS lat_us
  FROM events)
SELECT event_type, count(*) AS n_lat,
       sum(lat_us)::DOUBLE / count(*) AS mean_us,
       quantile_cont(lat_us, 0.5) AS p50_us,
       quantile_cont(lat_us, 0.9) AS p90_us,
       quantile_cont(lat_us, 0.99) AS p99_us
FROM lat WHERE lat_us IS NOT NULL GROUP BY event_type
""",
        "oov_rate": f"""
WITH norm AS MATERIALIZED (
  SELECT doc_id, {_NORM_TEXT_SQL} AS t FROM documents),
toks AS MATERIALIZED (
  SELECT doc_id AS id, unnest(string_split(t, ' ')) AS term FROM norm),
toks2 AS MATERIALIZED (SELECT id, term FROM toks WHERE term <> ''),
tstats AS MATERIALIZED (
  SELECT term, count(*) AS total_tf FROM toks2 GROUP BY term),
vocab AS MATERIALIZED (
  SELECT term FROM tstats ORDER BY total_tf DESC, term ASC LIMIT 64),
per AS MATERIALIZED (
  SELECT t.id, count(*) AS n_tokens,
         sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov
  FROM toks2 t LEFT JOIN vocab v ON v.term = t.term GROUP BY t.id)
SELECT d.doc_id AS id,
       coalesce(p.n_tokens, 0) AS n_tokens,
       coalesce(p.n_oov, 0) AS n_oov,
       CASE WHEN coalesce(p.n_tokens, 0) > 0
            THEN p.n_oov::DOUBLE / p.n_tokens END AS oov_rate
FROM documents d LEFT JOIN per p ON p.id = d.doc_id
""",
        "expectations": """
WITH agg AS MATERIALIZED (
  SELECT count(*) AS n,
         sum(CASE WHEN coalesce(n_chars > 0, FALSE)
                  THEN 0 ELSE 1 END)::BIGINT AS v0,
         sum(CASE WHEN coalesce(n_chars = length(text), FALSE)
                  THEN 0 ELSE 1 END)::BIGINT AS v1,
         sum(CASE WHEN coalesce(length(lang) = 2, FALSE)
                  THEN 0 ELSE 1 END)::BIGINT AS v2,
         sum(CASE WHEN coalesce(length(text) > 0, FALSE)
                  THEN 0 ELSE 1 END)::BIGINT AS v3,
         count(*) - count(DISTINCT doc_id) AS v4
  FROM documents)
SELECT 'n_chars_positive' AS rule, n AS n_rows, v0 AS n_violations,
       v0::DOUBLE / n AS violation_rate FROM agg
UNION ALL SELECT 'n_chars_matches_text', n, v1, v1::DOUBLE / n FROM agg
UNION ALL SELECT 'lang_is_iso2', n, v2, v2::DOUBLE / n FROM agg
UNION ALL SELECT 'text_nonempty', n, v3, v3::DOUBLE / n FROM agg
UNION ALL SELECT 'unique:doc_id', n, v4, v4::DOUBLE / n FROM agg
""",
        "semantic_dedup": """
WITH aug AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
  UNION ALL
  SELECT vec_id + 10000000, embedding FROM (
    SELECT vec_id, embedding FROM embeddings
    WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 30)
),
c AS MATERIALIZED (
  SELECT vec_id AS centroid_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 8),
assign AS MATERIALIZED (
  SELECT id, centroid_id FROM (
    SELECT v.vec_id AS id, c.centroid_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(
               v.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
               c.centroid_id) AS rn
    FROM aug v, c)
  WHERE rn = 1),
av AS MATERIALIZED (
  SELECT a.id, a.centroid_id, v.embedding
  FROM assign a JOIN aug v ON v.vec_id = a.id),
dropped AS (
  SELECT DISTINCT y.id FROM av x JOIN av y
    ON x.centroid_id = y.centroid_id AND x.id < y.id
  WHERE list_cosine_similarity(x.embedding::DOUBLE[],
                               y.embedding::DOUBLE[]) >= 0.9)
SELECT id, centroid_id FROM assign
WHERE id NOT IN (SELECT id FROM dropped)
""",
        "sample_k_per_lang": _sample_k_per_stratum_sql(10),
        "funnel": _funnel_sql(("view", "click", "purchase")),
        "boilerplate": _boilerplate_sql(3, 15, " the "),
        "cluster_assign": """
WITH c AS MATERIALIZED (
  SELECT vec_id AS centroid_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 8),
scored AS (
  SELECT v.vec_id AS id, c.centroid_id,
         list_cosine_similarity(v.embedding::DOUBLE[], c.embedding::DOUBLE[])
           AS cos
  FROM embeddings v, c WHERE v.embedding IS NOT NULL)
SELECT id, centroid_id FROM (
  SELECT id, centroid_id,
         row_number() OVER (PARTITION BY id ORDER BY cos DESC, centroid_id)
           AS rn
  FROM scored)
WHERE rn = 1
""",
        "drift_nchars": _drift_sql(10),
        "safe_split": _safe_split_sql(),
        "pii_scrub": _pii_scrub_sql(),
        "adamic_adar": _adamic_adar_sql(),
        "url_domains": _url_domains_sql(),
        "lm_score": _lm_score_sql(),
        "pagerank_decayed10": _pagerank_fixed_sql(
            10,
            wedges_sql=""",
wedges AS MATERIALIZED (
  SELECT e.src, e.dst,
         43200000000.0::DOUBLE
           / (43200000000 + (SELECT max(epoch_us(ts)) FROM events)
              - epoch_us(ev.ts))::DOUBLE AS weight
  FROM edges e JOIN events ev ON ev.event_id = e.src)""",
        ),
        "salsa": _salsa_sql(),
        "boilerplate_scrub": _boilerplate_scrub_sql(3, 15, " the "),
        "dup_spans": _span_cte(6, 2) + "\nSELECT span, n_docs, n_occ FROM dup",
        "span_scrub": _span_scrub_sql(6, 2),
        "jaccard_linkpred": _jaccard_linkpred_sql(),
        "seq_pack": _pack_cte(64)
        + "\nSELECT seq_id, doc_id, tok_start, seq_pos, slice_len FROM sm",
        "seq_pack_text": _pack_text_sql(64),
        "bm25": f"""
WITH norm AS (SELECT doc_id, {_NORM_TEXT_SQL} AS t FROM documents),
base AS (SELECT doc_id,
                CASE WHEN length(t) = 0 THEN []::VARCHAR[]
                     ELSE string_split(t, ' ') END AS toks
         FROM norm),
toks AS (SELECT doc_id, len(toks)::BIGINT AS dl, unnest(toks) AS term
         FROM base),
tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
       FROM toks GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
s AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl
      FROM (SELECT len(toks)::BIGINT AS dl FROM base WHERE len(toks) > 0))
SELECT tf.doc_id, tf.term, tf.tf, tf.dl,
       round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
             * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / avgdl)), 6) AS bm25
FROM tf JOIN df USING (term) CROSS JOIN s
""",
        "mixture": _mixture_sql(),
        "pq_codes": _pq_codes_sql(8, 8),
        "knn_pq": _knn_pq_sql(8, 8, 8, 5),
        "bpe_pairs": _bpe_pairs_sql(),
        "cross_jaccard": _cross_jaccard_sql(0.9),
        "dedup_incremental": _dedup_incremental_sql(0.9),
        "url_canonical": _url_canonical_sql(),
        "url_dedup": _url_dedup_sql(),
        "domain_quota": _domain_quota_sql(3),
        "quality_classifier": _quality_classifier_sql(),
        "asof_view_click": """
WITH c AS (
  SELECT event_id AS click_id, user_id, epoch_us(ts) AS t
  FROM events WHERE event_type = 'click'),
v AS (
  SELECT user_id, epoch_us(ts) AS t, max(event_id) AS view_id
  FROM events WHERE event_type = 'view' GROUP BY user_id, epoch_us(ts))
SELECT c.click_id, c.user_id, v.view_id,
       v.t AS view_ts_us, c.t - v.t AS gap_us
FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.t >= v.t
""",
        "cc_incremental": _cc_sql(),
        "hot_users": """
WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
     t AS (SELECT count(*) AS tot FROM events)
SELECT user_id, n, round(n / tot, 9) AS share
FROM c CROSS JOIN t
ORDER BY n DESC, user_id ASC LIMIT 25
""",
        "props_stats": """
WITH parsed AS (
  SELECT event_type,
         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events)
SELECT event_type,
       count(*) AS n,
       count(*) FILTER (k IS NULL) AS k_nulls,
       sum(k)::BIGINT AS k_sum,
       min(k) AS k_min,
       max(k) AS k_max
FROM parsed GROUP BY event_type
""",
        "community_pagerank": _community_pr_sql(5, 10),
        "quotient_lpa5": _lpa_sql(
            5,
            final_select=(
                "SELECT la.label AS src_label, lb.label AS dst_label, "
                "count(*) AS n_links "
                "FROM edges e "
                "JOIN l5 la ON e.src = la.id "
                "JOIN l5 lb ON e.dst = lb.id "
                "GROUP BY la.label, lb.label"
            ),
        ),
    }


def _cross_pairs_cte(threshold: float) -> str:
    """Shared cross-snapshot Jaccard CTE: ``xjp(new_id, ref_id, j)`` —
    the UNPRUNED inverted-index cross join (ref = doc_id % 3 == 0),
    checking the engine's prefix-filtered plan against the plain
    definition."""
    return f"""
cnorm AS MATERIALIZED (
  SELECT doc_id, {_NORM_TEXT_SQL} AS t FROM documents),
csh AS MATERIALIZED (
  SELECT doc_id, unnest(list_distinct(
    [substr(t, i, 5) for i in range(1, greatest(length(t) - 4, 1) + 1)]
  )) AS g FROM cnorm),
csizes AS MATERIALIZED (
  SELECT doc_id, count(*) AS sz FROM csh GROUP BY doc_id),
xcommon AS MATERIALIZED (
  SELECT a.doc_id AS new_id, b.doc_id AS ref_id, count(*) AS c
  FROM csh a JOIN csh b ON a.g = b.g
  WHERE a.doc_id % 3 != 0 AND b.doc_id % 3 = 0
  GROUP BY a.doc_id, b.doc_id),
xjp AS MATERIALIZED (
  SELECT new_id, ref_id,
         c::DOUBLE / (sa.sz + sb.sz - c)::DOUBLE AS j
  FROM xcommon
  JOIN csizes sa ON sa.doc_id = new_id
  JOIN csizes sb ON sb.doc_id = ref_id
  WHERE c::DOUBLE / (sa.sz + sb.sz - c)::DOUBLE >= {threshold})"""


def _cross_jaccard_sql(threshold: float) -> str:
    return (
        "WITH " + _cross_pairs_cte(threshold) + "\n"
        "SELECT new_id, ref_id, round(j, 9) AS jaccard FROM xjp"
    )


def _dedup_incremental_sql(threshold: float) -> str:
    """Mirror of _q_dedup_incremental: exact anti-join on normalized
    content, near-tier drop via the cross-pair CTE, then exact dedup of
    the survivors (keep = min id per content)."""
    return (
        "WITH "
        + _cross_pairs_cte(threshold)
        + f""",
newd AS (SELECT doc_id, t FROM cnorm WHERE doc_id % 3 != 0),
refd AS (SELECT t FROM cnorm WHERE doc_id % 3 = 0),
fresh AS (
  SELECT doc_id, t FROM newd
  WHERE NOT EXISTS (SELECT 1 FROM refd r WHERE r.t = newd.t)
    AND NOT EXISTS (SELECT 1 FROM xjp x WHERE x.new_id = newd.doc_id))
SELECT min(doc_id) AS keep_id, count(*) AS dup_count
FROM fresh GROUP BY t
"""
    )


def _bpe_pairs_sql() -> str:
    """Mirror of _q_bpe_pairs: distinct-word frequencies, char+EOW
    symbols (regexp_extract_all('.') — same any-char class both
    engines), adjacent pairs via DuckDB's zipped parallel unnest of the
    two off-by-one slices."""
    return f"""
WITH norm AS (SELECT {_NORM_TEXT_SQL} AS t FROM documents),
words AS (
  SELECT unnest(string_split(t, ' ')) AS word
  FROM norm WHERE length(t) > 0),
wf AS (SELECT word, count(*) AS freq FROM words GROUP BY word),
syms AS (
  SELECT freq, list_append(regexp_extract_all(word, '.'), '</w>') AS s
  FROM wf),
pairs AS (
  SELECT freq,
         unnest(s[1 : len(s) - 1]) AS lhs,
         unnest(s[2 : len(s)]) AS rhs
  FROM syms WHERE len(s) >= 2)
SELECT lhs, rhs, sum(freq)::BIGINT AS n FROM pairs GROUP BY lhs, rhs
"""


def _pq_prelude(m: int, k: int) -> str:
    """Shared PQ CTE chain (seed codebook → per-(vector, subspace)
    squared-L2 argmin): `best` holds (vec_id, sub, code, d2, dim)."""
    return f"""
WITH v AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS e, len(embedding) AS dim
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) % {m} = 0),
s AS (SELECT unnest(range({m})) AS sub),
subs AS (
  SELECT vec_id, s.sub,
         e[s.sub * (dim // {m}) + 1 : (s.sub + 1) * (dim // {m})] AS sv,
         dim
  FROM v, s),
cbv AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, e, dim
  FROM (SELECT vec_id, e, dim FROM v ORDER BY vec_id LIMIT {k})),
cb AS (
  SELECT s.sub, c.code,
         c.e[s.sub * (dim // {m}) + 1 : (s.sub + 1) * (dim // {m})] AS cv
  FROM cbv c, s),
scored AS (
  SELECT subs.vec_id, subs.sub, cb.code, subs.dim,
         list_distance(subs.sv, cb.cv) ^ 2 AS d2
  FROM subs JOIN cb ON subs.sub = cb.sub),
best AS (
  SELECT vec_id, sub, code, d2, dim FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
    FROM scored)
  WHERE rn = 1)"""


def _pq_codes_sql(m: int, k: int) -> str:
    """Mirror of _q_pq_codes: seed codebook = per-subspace slices of the
    k smallest-vec_id embeddings (code = id rank), argmin squared-L2 per
    (vector, subspace) with row_number ties (d2, code), codes joined
    with '-' in sub order, mse = Σ best d2 / dim rounded 6.  FLOAT[]→DOUBLE[]
    cast is exact, matching pq_encode's per-element double cast."""
    return (
        _pq_prelude(m, k)
        + """
SELECT vec_id,
       string_agg(code::VARCHAR, '-' ORDER BY sub) AS codes,
       round(sum(d2) / any_value(dim), 6) AS mse
FROM best GROUP BY vec_id
"""
    )


def _knn_pq_sql(m: int, k: int, n_queries: int, topk: int) -> str:
    """Mirror of _q_knn_pq (ADC): LUT[q][sub][code] = ||q_sub −
    c_{sub,code}||² against the exact query subvectors; a coded
    vector's approximate distance = Σ_sub LUT[sub][codes[sub]].
    Integer output (query_id, neighbor_id, rnk); the float adc is
    internal — argsort flips only on ~ulp ties, the accepted
    knn_bruteforce risk."""
    return (
        _pq_prelude(m, k)
        + f""",
qs AS (SELECT vec_id AS qid, e, dim FROM v ORDER BY vec_id LIMIT {n_queries}),
qsubs AS (
  SELECT qid, s.sub,
         e[s.sub * (dim // {m}) + 1 : (s.sub + 1) * (dim // {m})] AS sv
  FROM qs, s),
lut AS (
  SELECT q.qid, q.sub, cb.code,
         list_distance(q.sv, cb.cv) ^ 2 AS d2
  FROM qsubs q JOIN cb ON q.sub = cb.sub),
adc AS (
  SELECT l.qid AS query_id, b.vec_id AS neighbor_id, sum(l.d2) AS adc
  FROM best b JOIN lut l ON b.sub = l.sub AND b.code = l.code
  WHERE b.vec_id != l.qid
  GROUP BY l.qid, b.vec_id)
SELECT query_id, neighbor_id, rnk FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY adc, neighbor_id) AS rnk
  FROM adc)
WHERE rnk <= {topk}
"""
    )


def _mixture_sql() -> str:
    """Mirror of _q_mixture: the same fail-closed weight map, extra-epoch
    threshold, and (id + epoch*stride) order hash, generated by the
    engine's own SQL twin."""
    from parallel_pagerank_spark.functions.mixing import (
        mixture_schedule_sql,
    )

    return mixture_schedule_sql(_MIX_WEIGHTS, source_expr="lang")


def _stratified_sample_sql() -> str:
    # predicate generated by the SAME helper the engine uses (the
    # dataset_split discipline: bucket arithmetic cannot drift apart)
    from parallel_pagerank_spark.functions.splits import (
        stratified_sample_sql,
    )

    pred = stratified_sample_sql("doc_id", "lang", _SAMPLE_RATES)
    return f"SELECT doc_id, lang FROM documents WHERE {pred}"


def _split_grams_cte(n: int) -> str:
    """Shared CTE prefix: per-doc DISTINCT word n-grams of the
    normalized text, tagged with the portable-hash split. Word n-grams
    via lead(w, k) (n fixed, so the unrolled-lead form replaces Spark's
    transform/slice — same set). Used by the decontaminate and
    test_containment oracles."""
    from parallel_pagerank_spark.functions.splits import split_case_sql

    leads = ", ".join(
        f"lead(w, {k}) OVER (PARTITION BY doc_id ORDER BY pos) AS w{k}"
        for k in range(1, n)
    )
    gram = " || ' ' || ".join(["w"] + [f"w{k}" for k in range(1, n)])
    return f"""
s AS MATERIALIZED (
  SELECT doc_id, {split_case_sql('doc_id')} AS split,
         {_NORM_TEXT_SQL} AS norm
  FROM documents),
toks AS MATERIALIZED (
  SELECT doc_id, split, pos, w FROM (
    SELECT doc_id, split,
           generate_subscripts(string_split(norm, ' '), 1) AS pos,
           unnest(string_split(norm, ' ')) AS w
    FROM s)
  WHERE w <> ''),
grams AS MATERIALIZED (
  SELECT DISTINCT doc_id, split, {gram} AS gram FROM (
    SELECT doc_id, split, w, {leads} FROM toks)
  WHERE w{n - 1} IS NOT NULL)"""


def _decontaminate_sql(n: int) -> str:
    """Mirror of functions/decontam.ngram_contamination over the
    portable-hash split: train ⋈ test on the gram string."""
    return f"""
WITH {_split_grams_cte(n)}
SELECT t.doc_id,
       count(DISTINCT t.gram) AS n_shared,
       count(DISTINCT e.doc_id) AS n_test_docs,
       min(e.doc_id) AS first_test_doc
FROM (SELECT * FROM grams WHERE split = 'train') t
JOIN (SELECT * FROM grams WHERE split = 'test') e ON t.gram = e.gram
GROUP BY t.doc_id
"""


def _containment_sql(n: int) -> str:
    """Mirror of functions/decontam.ngram_containment: per TEST doc the
    fraction of its distinct n-grams present anywhere in train. Integer
    counts + one IEEE division."""
    return f"""
WITH {_split_grams_cte(n)},
tr AS MATERIALIZED (
  SELECT DISTINCT gram FROM grams WHERE split = 'train'),
te AS MATERIALIZED (
  SELECT doc_id, gram FROM grams WHERE split = 'test'),
tot AS (SELECT doc_id, count(*) AS n_grams FROM te GROUP BY doc_id),
hit AS (
  SELECT doc_id, count(*) AS n_hit FROM te
  WHERE gram IN (SELECT gram FROM tr) GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(tot.n_grams, 0) AS n_grams,
       coalesce(hit.n_hit, 0) AS n_hit,
       CASE WHEN coalesce(tot.n_grams, 0) > 0
            THEN coalesce(hit.n_hit, 0)::DOUBLE / tot.n_grams::DOUBLE
            ELSE 0.0 END AS containment
FROM (SELECT doc_id FROM s WHERE split = 'test') d
LEFT JOIN tot USING (doc_id)
LEFT JOIN hit USING (doc_id)
"""


def _doc_entropy_sql() -> str:
    # H = ln(T) - (Σ c·ln c)/T per doc; CASE guards mirror
    # functions/text.token_entropy's when() branches exactly.
    # The Σ is a left fold over the ASCENDING-SORTED count multiset
    # seeded with 0.0 — the identical op sequence token_entropy's
    # sort_array + aggregate fold performs, so both engines sum in
    # the same order (ties are equal summands; order-free hash aggs
    # were the r4 flake).
    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split({_NORM_TEXT_SQL}, ' ')) AS w
    FROM documents)
  WHERE w <> ''),
cnt AS MATERIALIZED (
  SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w),
agg AS (
  SELECT doc_id, sum(c)::BIGINT AS t, count(*) AS nd,
         list_reduce(
           list_prepend(0.0::DOUBLE, list_sort(list(c::DOUBLE))),
           (acc, x) -> acc + x * ln(x)) AS sc
  FROM cnt GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(a.t, 0)::BIGINT AS n_tokens,
       coalesce(a.nd, 0) AS n_distinct,
       round(CASE WHEN a.t > 0 THEN ln(a.t::DOUBLE) - a.sc / a.t::DOUBLE
                  ELSE 0.0 END, 6) AS entropy,
       round(CASE WHEN a.nd > 1
                  THEN (ln(a.t::DOUBLE) - a.sc / a.t::DOUBLE)
                       / ln(a.nd::DOUBLE)
                  ELSE 0.0 END, 6) AS entropy_ratio
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def _topo_levels_sql(user_mod: int, rounds: int) -> str:
    """Unrolled bounded max-relaxation mirroring
    operators/scc.topological_levels on the forward-edge (src < dst,
    hence acyclic) DAG: l_k(v) = min(longest-path depth, k), reached by
    k full-relaxation rounds (the engine's changed-delta frontier
    computes the identical sequence — deltas only skip stale-equal
    pushes). All-integer, hash-exact."""
    parts = [f"""
WITH ev AS MATERIALIZED (
  SELECT event_id, ts, user_id, event_type FROM events
  WHERE user_id % {user_mod} = 0),
reply AS (
  SELECT src, dst FROM (
    SELECT event_id AS src,
           lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
    FROM ev) WHERE dst IS NOT NULL),
handoff AS (
  SELECT src, dst FROM (
    SELECT event_id AS src,
           lead(event_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
    FROM ev) WHERE dst IS NOT NULL),
edges AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT * FROM reply UNION ALL SELECT * FROM handoff)
  WHERE src < dst),
nodes AS MATERIALIZED (
  SELECT DISTINCT id FROM (
    SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
l0 AS MATERIALIZED (SELECT id, 0::BIGINT AS level FROM nodes)"""]
    for k in range(1, rounds + 1):
        parts.append(f""",
l{k} AS MATERIALIZED (
  SELECT p.id, greatest(p.level, coalesce(mx.m, 0)) AS level
  FROM l{k - 1} p LEFT JOIN (
    SELECT e.dst AS id, max(q.level) + 1 AS m
    FROM edges e JOIN l{k - 1} q ON q.id = e.src GROUP BY e.dst) mx
  ON mx.id = p.id)""")
    parts.append(f"\nSELECT id, level FROM l{rounds}")
    return "".join(parts)


def _subgraph_sample_sql(frac: float) -> str:
    from parallel_pagerank_spark.functions.splits import split_bucket_sql

    bound = int(frac * 4_294_967_296)
    return f"""
WITH {_EDGES_MAT_CTE}
SELECT src, dst FROM edges
WHERE ({split_bucket_sql('src')}) < {bound}
  AND ({split_bucket_sql('dst')}) < {bound}
"""


def _quality_filter_sql(min_pct: float) -> str:
    # percent_rank over (quality, doc_id) — total order, engine-portable
    return f"""
WITH q AS MATERIALIZED ({_quality_score_sql()}),
r AS (
  SELECT d.doc_id, d.lang, q.quality,
         percent_rank() OVER (
           PARTITION BY d.lang ORDER BY q.quality, d.doc_id) AS pct
  FROM documents d JOIN q USING (doc_id))
SELECT doc_id, lang, quality, pct FROM r WHERE pct >= {min_pct}
"""


def _windowed_counts_sql(width_us: int) -> str:
    # epoch-aligned tumbling bucket via integer division (Spark's
    # F.window aligns to the epoch for offset-free durations)
    start = f"(epoch_us(ts) // {width_us}) * {width_us}"
    return f"""
SELECT {start} AS window_start_us,
       {start} + {width_us} AS window_end_us,
       event_type,
       count(*) AS n_events
FROM events
GROUP BY 1, 2, 3
"""


def _matching_sql(user_mod: int, rounds: int) -> str:
    """Unrolled deterministic local-max matching mirroring
    operators/matching.maximal_matching on the undirected simple graph
    of the mod subgraph. Per round: portable bucket of the packed edge
    key (u·2^31 + v, valid for ids < 2^31) salted by the round number;
    an edge wins iff it is the row_number-1 arg-min of (p, u, v) at
    BOTH endpoints; winners' endpoints retire. Extra rounds past the
    fixpoint are no-ops (empty active set). All-integer, hash-exact."""
    from parallel_pagerank_spark.functions.splits import split_bucket_sql

    parts = [f"""
WITH ev AS MATERIALIZED (
  SELECT event_id, ts, user_id, event_type FROM events
  WHERE user_id % {user_mod} = 0),
reply AS (
  SELECT src, dst FROM (
    SELECT event_id AS src,
           lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
    FROM ev) WHERE dst IS NOT NULL),
handoff AS (
  SELECT src, dst FROM (
    SELECT event_id AS src,
           lead(event_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
    FROM ev) WHERE dst IS NOT NULL),
e0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM (SELECT * FROM reply UNION ALL SELECT * FROM handoff)
  WHERE src <> dst),
m0 AS (SELECT u, v FROM e0 WHERE FALSE)"""]
    for r in range(1, rounds + 1):
        key = split_bucket_sql("u * 2147483648 + v", salt=r)
        parts.append(f""",
k{r} AS MATERIALIZED (SELECT u, v, {key} AS p FROM e{r - 1}),
mn{r} AS MATERIALIZED (
  SELECT ep, u, v FROM (
    SELECT ep, u, v,
           row_number() OVER (PARTITION BY ep ORDER BY p, u, v) AS rn
    FROM (SELECT u AS ep, p, u, v FROM k{r}
          UNION ALL SELECT v AS ep, p, u, v FROM k{r}))
  WHERE rn = 1),
w{r} AS MATERIALIZED (
  SELECT k.u, k.v FROM k{r} k
  JOIN mn{r} a ON a.ep = k.u AND a.u = k.u AND a.v = k.v
  JOIN mn{r} b ON b.ep = k.v AND b.u = k.u AND b.v = k.v),
tk{r} AS (
  SELECT u AS ep FROM w{r} UNION SELECT v AS ep FROM w{r}),
e{r} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{r - 1} e
  LEFT JOIN tk{r} a ON a.ep = e.u
  LEFT JOIN tk{r} b ON b.ep = e.v
  WHERE a.ep IS NULL AND b.ep IS NULL),
m{r} AS MATERIALIZED (
  SELECT u, v FROM m{r - 1} UNION ALL SELECT u, v FROM w{r})""")
    parts.append(f"\nSELECT u, v FROM m{rounds}")
    return "".join(parts)


def _coloring_sql(user_mod: int, rounds: int) -> str:
    """Unrolled deterministic Jones-Plassmann coloring mirroring
    operators/coloring.greedy_coloring on the undirected simple graph
    of the mod subgraph. Fixed portable-hash priorities packed as
    p·2^31 + id (valid: event ids < 2^31); per round the strict local
    minima among uncolored vertices take the mex of their colored
    neighborhoods (list_filter over range(0, |S|+1)). Extra rounds past
    the fixpoint are no-ops. All-integer, hash-exact."""
    from parallel_pagerank_spark.functions.splits import split_bucket_sql

    parts = [f"""
WITH ev AS MATERIALIZED (
  SELECT event_id, ts, user_id, event_type FROM events
  WHERE user_id % {user_mod} = 0),
reply AS (
  SELECT src, dst FROM (
    SELECT event_id AS src,
           lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
    FROM ev) WHERE dst IS NOT NULL),
handoff AS (
  SELECT src, dst FROM (
    SELECT event_id AS src,
           lead(event_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
    FROM ev) WHERE dst IS NOT NULL),
sym AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM (SELECT * FROM reply UNION ALL SELECT * FROM handoff)
    WHERE src <> dst
    UNION ALL
    SELECT dst AS src, src AS dst
    FROM (SELECT * FROM reply UNION ALL SELECT * FROM handoff)
    WHERE src <> dst)),
u0 AS MATERIALIZED (
  SELECT id, ({split_bucket_sql('id')}) * 2147483648 + id AS key
  FROM (SELECT DISTINCT src AS id FROM sym)),
c0 AS (SELECT id, 0::BIGINT AS color FROM u0 WHERE FALSE)"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
nm{r} AS MATERIALIZED (
  SELECT e.src AS id, min(ud.key) AS m
  FROM sym e
  JOIN u{r - 1} us ON us.id = e.src
  JOIN u{r - 1} ud ON ud.id = e.dst
  GROUP BY e.src),
f{r} AS MATERIALIZED (
  SELECT u.id FROM u{r - 1} u LEFT JOIN nm{r} n ON n.id = u.id
  WHERE n.m IS NULL OR u.key < n.m),
nc{r} AS MATERIALIZED (
  SELECT e.src AS id, list(DISTINCT c.color) AS cs
  FROM sym e
  JOIN f{r} f ON f.id = e.src
  JOIN c{r - 1} c ON c.id = e.dst
  GROUP BY e.src),
w{r} AS MATERIALIZED (
  SELECT f.id,
         coalesce(list_min(list_filter(range(0, len(nc.cs) + 1),
                                       x -> NOT list_contains(nc.cs, x))),
                  0)::BIGINT AS color
  FROM f{r} f LEFT JOIN nc{r} nc ON nc.id = f.id),
c{r} AS MATERIALIZED (
  SELECT id, color FROM c{r - 1} UNION ALL SELECT id, color FROM w{r}),
u{r} AS MATERIALIZED (
  SELECT u.id, u.key FROM u{r - 1} u
  LEFT JOIN w{r} w ON w.id = u.id WHERE w.id IS NULL)""")
    parts.append(f"\nSELECT id, color FROM c{rounds}")
    return "".join(parts)


def _mis_sql(user_mod: int, rounds: int) -> str:
    """Unrolled deterministic-Luby MIS mirroring
    operators/mis.maximal_independent_set on the undirected simple
    graph of the mod subgraph. Per round: portable bucket salted by the
    round number, packed with the id into one int64 key
    (bucket·2^31 + id ≡ (bucket, id) lexicographic for ids < 2^31 —
    true for event ids), winner iff strictly below every active
    neighbor's key, winners ∪ their neighbors retire. Extra rounds past
    convergence are no-ops (empty active set), so ``rounds`` only needs
    to be ≥ the measured fixpoint. All-integer, hash-exact."""
    from parallel_pagerank_spark.functions.splits import split_bucket_sql

    parts = [f"""
WITH ev AS MATERIALIZED (
  SELECT event_id, ts, user_id, event_type FROM events
  WHERE user_id % {user_mod} = 0),
reply AS (
  SELECT src, dst FROM (
    SELECT event_id AS src,
           lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
    FROM ev) WHERE dst IS NOT NULL),
handoff AS (
  SELECT src, dst FROM (
    SELECT event_id AS src,
           lead(event_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
    FROM ev) WHERE dst IS NOT NULL),
sym AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM (SELECT * FROM reply UNION ALL SELECT * FROM handoff)
    WHERE src <> dst
    UNION ALL
    SELECT dst AS src, src AS dst
    FROM (SELECT * FROM reply UNION ALL SELECT * FROM handoff)
    WHERE src <> dst)),
a0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM sym),
m0 AS (SELECT id FROM a0 WHERE FALSE)"""]
    for r in range(1, rounds + 1):
        key = f"({split_bucket_sql('id', salt=r)}) * 2147483648 + id"
        parts.append(f""",
k{r} AS MATERIALIZED (SELECT id, {key} AS key FROM a{r - 1}),
nm{r} AS MATERIALIZED (
  SELECT e.src AS id, min(kd.key) AS m
  FROM sym e
  JOIN k{r} ks ON ks.id = e.src
  JOIN k{r} kd ON kd.id = e.dst
  GROUP BY e.src),
w{r} AS MATERIALIZED (
  SELECT ks.id FROM k{r} ks LEFT JOIN nm{r} n ON n.id = ks.id
  WHERE n.m IS NULL OR ks.key < n.m),
rn{r} AS (
  SELECT DISTINCT e.dst AS id FROM sym e JOIN w{r} w ON w.id = e.src),
a{r} AS MATERIALIZED (
  SELECT a.id FROM a{r - 1} a
  LEFT JOIN w{r} w ON w.id = a.id
  LEFT JOIN rn{r} n ON n.id = a.id
  WHERE w.id IS NULL AND n.id IS NULL),
m{r} AS (SELECT id FROM m{r - 1} UNION ALL SELECT id FROM w{r})""")
    parts.append(f"\nSELECT id FROM m{rounds}")
    return "".join(parts)


def _safe_split_sql() -> str:
    from parallel_pagerank_spark.functions.splits import split_case_sql

    anchor = "coalesce(lab.label, d.doc_id)"
    return _near_dup_clusters_sql(
        final_select=(
            f"SELECT d.doc_id, {anchor} AS anchor, "
            f"{split_case_sql(anchor)} AS split "
            f"FROM documents d LEFT JOIN lN lab ON lab.id = d.doc_id"
        )
    )


def _drift_sql(n_buckets: int) -> str:
    from parallel_pagerank_spark.functions.splits import split_case_sql

    b = n_buckets
    return f"""
WITH s AS MATERIALIZED (
  SELECT n_chars, {split_case_sql('doc_id')} AS split FROM documents
  WHERE n_chars IS NOT NULL),
bounds AS (
  SELECT min(n_chars) AS lo, max(n_chars) AS hi FROM s
  WHERE split IN ('train', 'test')),
bk AS (
  SELECT split,
         least(CAST((n_chars - bounds.lo) * {b}
                    // (bounds.hi - bounds.lo + 1) AS BIGINT),
               {b - 1}) AS bucket
  FROM s, bounds WHERE split IN ('train', 'test')),
ca AS (SELECT bucket, count(*) AS a_n FROM bk WHERE split = 'train' GROUP BY 1),
cb AS (SELECT bucket, count(*) AS b_n FROM bk WHERE split = 'test' GROUP BY 1),
na AS (SELECT count(*) AS n FROM bk WHERE split = 'train'),
nb AS (SELECT count(*) AS n FROM bk WHERE split = 'test'),
grid AS (SELECT unnest(generate_series(0, {b - 1})) AS bucket)
SELECT g.bucket,
       coalesce(ca.a_n, 0) AS a_n,
       coalesce(cb.b_n, 0) AS b_n,
       round(((coalesce(ca.a_n, 0) + 0.5) / (na.n + {0.5 * b})
              - (coalesce(cb.b_n, 0) + 0.5) / (nb.n + {0.5 * b}))
             * ln(((coalesce(ca.a_n, 0) + 0.5) / (na.n + {0.5 * b}))
                  / ((coalesce(cb.b_n, 0) + 0.5) / (nb.n + {0.5 * b}))), 9)
         AS psi_term
FROM grid g
LEFT JOIN ca ON ca.bucket = g.bucket
LEFT JOIN cb ON cb.bucket = g.bucket
CROSS JOIN na CROSS JOIN nb
"""


def _boilerplate_sql(min_docs: int, min_chars: int, delim: str) -> str:
    return f"""
WITH dd AS MATERIALIZED (
  SELECT DISTINCT doc_id, passage FROM (
    SELECT doc_id, trim(p) AS passage FROM (
      SELECT doc_id,
             unnest(string_split({_NORM_TEXT_SQL}, '{delim}')) AS p
      FROM documents))
  WHERE length(passage) >= {min_chars})
SELECT passage, count(*) AS n_docs, min(doc_id) AS first_doc
FROM dd GROUP BY passage HAVING count(*) >= {min_docs}
"""


def _sample_k_sql(k: int) -> str:
    from parallel_pagerank_spark.functions.splits import split_bucket_sql

    return f"""
SELECT doc_id, lang FROM documents
ORDER BY ({split_bucket_sql('doc_id')}), doc_id LIMIT {k}
"""


def _zorder_layout_sql(bits: int) -> str:
    """DuckDB mirror of _q_zorder_layout: identical true-integer-division
    bucketing (`//` ≡ Spark `div`) and shift/and interleave, via the
    layout module's own SQL emitters so both sides share one source of
    truth for the arithmetic."""
    from parallel_pagerank_spark.functions.layout import (
        zorder_bucket_sql,
        zorder_key_sql,
    )

    nb = 1 << bits
    bu = zorder_bucket_sql("user_id", "lou", "hiu", nb)
    bt = zorder_bucket_sql("ts_us", "lot", "hit", nb)
    key = zorder_key_sql(["zb_user_id", "zb_ts_us"], bits)
    return f"""
WITH base AS MATERIALIZED (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us
  FROM events WHERE user_id IS NOT NULL),
bounds AS MATERIALIZED (
  SELECT min(user_id) AS lou, max(user_id) AS hiu,
         min(ts_us) AS lot, max(ts_us) AS hit FROM base),
b AS MATERIALIZED (
  SELECT event_id, {bu} AS zb_user_id, {bt} AS zb_ts_us
  FROM base, bounds)
SELECT event_id, zb_user_id, zb_ts_us, {key} AS zkey FROM b
"""


def _neighbor_sample_sql(k: int) -> str:
    """Per-src fan-out cap mirroring operators/graph.sample_neighbors_k:
    dedup, portable bucket of the packed edge key, per-src (bucket, dst)
    row_number <= k. All-integer (ids < 2^31), hash-exact."""
    from parallel_pagerank_spark.functions.splits import split_bucket_sql

    bucket = split_bucket_sql("src * 2147483648 + dst")
    return f"""
WITH {_EDGES_MAT_CTE},
ded AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
keyed AS MATERIALIZED (SELECT src, dst, ({bucket}) AS b FROM ded)
SELECT src, dst FROM (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src ORDER BY b, dst) AS rn
  FROM keyed)
WHERE rn <= {k}
"""


def _weighted_sample_k_sql(k: int) -> str:
    # generated by the SAME helper the engine uses (bit-identical
    # priority keys — one exact power-of-two scale + one IEEE division)
    from parallel_pagerank_spark.functions.splits import (
        weighted_sample_sql,
    )

    tail = weighted_sample_sql(k, "n_chars", "doc_id")
    return f"""
SELECT doc_id, lang, n_chars FROM documents
WHERE n_chars IS NOT NULL AND n_chars > 0
{tail}
"""


def _sample_k_per_stratum_sql(k: int) -> str:
    from parallel_pagerank_spark.functions.splits import split_bucket_sql

    return f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY ({split_bucket_sql('doc_id')}), doc_id) AS rn
  FROM documents)
WHERE rn <= {k}
"""


def _funnel_sql(steps: tuple[str, ...]) -> str:
    # earliest-completion chain mirroring sources/events.funnel_counts
    ctes = [
        f"s1 AS MATERIALIZED (SELECT user_id AS u, min(ts) AS t "
        f"FROM events WHERE event_type = '{steps[0]}' GROUP BY 1)"
    ]
    for i in range(1, len(steps)):
        ctes.append(
            f"s{i + 1} AS MATERIALIZED (SELECT e.user_id AS u, "
            f"min(e.ts) AS t FROM events e JOIN s{i} ON e.user_id = s{i}.u "
            f"WHERE e.event_type = '{steps[i]}' AND e.ts > s{i}.t "
            f"GROUP BY 1)"
        )
    selects = [
        f"SELECT {i + 1} AS step_idx, '{st}' AS step, "
        f"(SELECT count(*) FROM s{i + 1}) AS n_users"
        for i, st in enumerate(steps)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def _dataset_split_sql() -> str:
    # generated by the SAME helper the engine uses, so the bucket
    # arithmetic and split bounds cannot drift apart
    from parallel_pagerank_spark.functions.splits import split_case_sql

    return (
        f"SELECT doc_id, {split_case_sql('doc_id')} AS split FROM documents"
    )


def _bigram_lift_sql(min_pair_count: int) -> str:
    # parenthesization mirrors functions/text.bigram_lift exactly:
    # ((pair*tw)*tw) / ((tp*c1)*c2) — one IEEE division chain over exact
    # integer counts, bit-identical across engines
    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, pos, w FROM (
    SELECT doc_id,
           generate_subscripts(string_split({_NORM_TEXT_SQL}, ' '), 1) AS pos,
           unnest(string_split({_NORM_TEXT_SQL}, ' ')) AS w
    FROM documents)
  WHERE w <> ''),
pairs AS MATERIALIZED (
  SELECT w1, w2 FROM (
    SELECT w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM toks) WHERE w2 IS NOT NULL),
wc AS MATERIALIZED (SELECT w, count(*) AS c FROM toks GROUP BY w),
tw AS (SELECT count(*)::DOUBLE AS t FROM toks),
tp AS (SELECT count(*)::DOUBLE AS t FROM pairs),
pc AS (SELECT w1, w2, count(*) AS pair_count FROM pairs GROUP BY w1, w2)
SELECT pc.w1, pc.w2, pc.pair_count, c1.c AS c1, c2.c AS c2,
       (pc.pair_count::DOUBLE * tw.t * tw.t)
         / (tp.t * c1.c::DOUBLE * c2.c::DOUBLE) AS lift
FROM pc
JOIN wc c1 ON pc.w1 = c1.w
JOIN wc c2 ON pc.w2 = c2.w
CROSS JOIN tw CROSS JOIN tp
WHERE pc.pair_count >= {min_pair_count}
"""


def _scc_reach_sql(
    user_mod: int,
    final: str = "SELECT id, scc FROM labeling",
    wrap_mod: int | None = None,
) -> str:
    """SCC oracle by recursive-CTE transitive closure — an INDEPENDENT
    formulation from the engine's coloring peel (stronger check than an
    unrolled mirror). Closure is O(V^2) on a giant component, which is
    why this runs on the user_id % {mod} == 0 subgraph only.
    ``wrap_mod`` restricts the ring-closing wrap edges to a sub-subset of
    users so the condensation DAG is non-trivial (full wraps collapse the
    whole subgraph into one SCC)."""
    wrap_src = (
        f"SELECT * FROM ev WHERE user_id % {wrap_mod} = 0"
        if wrap_mod
        else "SELECT * FROM ev"
    )
    return f"""
WITH RECURSIVE
ev AS MATERIALIZED (
  SELECT event_id, ts, user_id, event_type FROM events
  WHERE user_id % {user_mod} = 0),
reply AS (
  SELECT src, dst FROM (
    SELECT event_id AS src,
           lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
    FROM ev) WHERE dst IS NOT NULL),
handoff AS (
  SELECT src, dst FROM (
    SELECT event_id AS src,
           lead(event_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
    FROM ev) WHERE dst IS NOT NULL),
wrap AS (
  SELECT src, dst FROM (
    SELECT event_id AS src,
           first_value(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst,
           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rd,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ra
    FROM ({wrap_src})) WHERE rd = 1 AND ra > 1),
edges AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT * FROM reply UNION ALL SELECT * FROM handoff
    UNION ALL SELECT * FROM wrap)),
reach AS (
  SELECT src AS a, dst AS b FROM edges
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
mutual AS (
  SELECT r1.b AS v, r1.a AS u FROM reach r1
  JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a),
maxid AS (SELECT greatest(max(src), max(dst)) AS m FROM edges),
verts AS (
  SELECT unnest(generate_series(0, (SELECT m FROM maxid))) AS id),
labeling AS (
  SELECT v.id, least(v.id, coalesce(min(mu.u), v.id)) AS scc
  FROM verts v LEFT JOIN mutual mu ON mu.v = v.id
  GROUP BY v.id)
{final}
"""


def _pseudo_diameter_sql(rounds: int) -> str:
    """Unrolled bounded double-sweep BFS mirroring
    operators/bfs.pseudo_diameter: sweep A from min(src), pick the
    farthest settled vertex (dist DESC, id ASC), sweep B from it."""

    def sweep(tag: str, start_cte: str) -> str:
        parts = [f"""
{tag}s0 AS MATERIALIZED (SELECT id, 0::BIGINT AS dist FROM {start_cte}),
{tag}f0 AS (SELECT id FROM {tag}s0)"""]
        for k in range(1, rounds + 1):
            parts.append(f""",
{tag}c{k} AS MATERIALIZED (SELECT DISTINCT e.dst AS id
         FROM edges e JOIN {tag}f{k - 1} f ON f.id = e.src),
{tag}f{k} AS MATERIALIZED (SELECT c.id FROM {tag}c{k} c
         LEFT JOIN {tag}s{k - 1} s ON s.id = c.id WHERE s.id IS NULL),
{tag}s{k} AS MATERIALIZED (SELECT id, dist FROM {tag}s{k - 1}
         UNION ALL SELECT id, {k}::BIGINT AS dist FROM {tag}f{k})"""
            )
        return "".join(parts)

    return f"""WITH {_EDGES_MAT_CTE},
src0 AS MATERIALIZED (SELECT min(src) AS id FROM edges),{sweep("a_", "src0")},
far AS MATERIALIZED (SELECT id, dist FROM a_s{rounds}
      ORDER BY dist DESC, id ASC LIMIT 1),{sweep("b_", "far")}
SELECT (SELECT id FROM src0) AS source_id,
       (SELECT id FROM far) AS far_id,
       (SELECT dist FROM far) AS far_dist,
       max(dist) AS diameter_lb,
       count(*) AS n_reached
FROM b_s{rounds}
"""


def _pii_scrub_sql() -> str:
    """Mirror of _q_pii_scrub: identical PII injection + identical
    regex chain (functions/text.py PII_PATTERNS are dialect-portable by
    construction; redact_pii_sql emits the DuckDB side)."""
    from parallel_pagerank_spark.functions.text import (
        PII_PATTERNS,
        redact_pii_sql,
    )

    counts = ", ".join(
        "len(regexp_split_to_array(text, "
        f"'{pat}')) - 1 AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    return f"""
WITH s AS MATERIALIZED (
  SELECT doc_id,
         text || ' contact u' || CAST(doc_id AS VARCHAR)
              || '@example.com via 10.0.0.'
              || CAST(doc_id % 256 AS VARCHAR)
              || ' acct '
              || CAST(doc_id * 1000000 + 123456789 AS VARCHAR) AS text
  FROM documents)
SELECT doc_id, {counts}, {redact_pii_sql('text')} AS clean_text
FROM s
"""


def _adamic_adar_sql() -> str:
    """Mirror of operators/linkanalysis.py adamic_adar (undirected
    distinct neighborhoods, cap 1000, existing pairs anti-joined)."""
    return f"""WITH {_EDGES_MAT_CTE},
nbr AS MATERIALIZED (
  SELECT DISTINCT k, x FROM (
    SELECT src AS k, dst AS x FROM edges
    UNION ALL SELECT dst AS k, src AS x FROM edges)
  WHERE k <> x),
deg AS MATERIALIZED (SELECT k, count(*) AS k_deg FROM nbr GROUP BY k),
kept AS MATERIALIZED (
  SELECT nbr.k, nbr.x, deg.k_deg FROM nbr JOIN deg ON deg.k = nbr.k
  WHERE deg.k_deg <= 1000),
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges WHERE src <> dst),
pairs AS (
  SELECT a.x AS u, b.x AS v, count(*) AS n_common,
         sum(1.0 / ln(a.k_deg::DOUBLE)) AS score
  FROM kept a JOIN kept b ON a.k = b.k AND a.x < b.x
  GROUP BY a.x, b.x)
SELECT p.u, p.v, p.n_common, round(p.score, 9) AS score
FROM pairs p
WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.u = p.u AND und.v = p.v)
"""


def _jaccard_linkpred_sql() -> str:
    """Mirror of operators/linkanalysis.py jaccard_linkpred (undirected
    distinct neighborhoods, cap 1000, TRUE degrees in the denominator,
    existing pairs anti-joined)."""
    return f"""WITH {_EDGES_MAT_CTE},
nbr AS MATERIALIZED (
  SELECT DISTINCT k, x FROM (
    SELECT src AS k, dst AS x FROM edges
    UNION ALL SELECT dst AS k, src AS x FROM edges)
  WHERE k <> x),
deg AS MATERIALIZED (SELECT k, count(*) AS deg FROM nbr GROUP BY k),
kept AS MATERIALIZED (
  SELECT nbr.k, nbr.x FROM nbr JOIN deg ON deg.k = nbr.k
  WHERE deg.deg <= 1000),
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges WHERE src <> dst),
pairs AS (
  SELECT a.x AS u, b.x AS v, count(*) AS n_common
  FROM kept a JOIN kept b ON a.k = b.k AND a.x < b.x
  GROUP BY a.x, b.x)
SELECT p.u, p.v, p.n_common,
       round(p.n_common::DOUBLE
             / (du.deg + dv.deg - p.n_common)::DOUBLE, 9) AS jaccard
FROM pairs p
JOIN deg du ON du.k = p.u
JOIN deg dv ON dv.k = p.v
WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.u = p.u AND und.v = p.v)
"""


def _url_domains_sql() -> str:
    """Mirror of _q_url_domains: identical URL injection (one mixed-case
    host to exercise the lowercasing), identical extraction regex
    (functions/urls.py URL_PATTERN is Java∩RE2-portable by
    construction), identical domain parse + lower()."""
    from parallel_pagerank_spark.functions.urls import URL_PATTERN

    return f"""
WITH s AS MATERIALIZED (
  SELECT doc_id,
         text || ' see https://Site' || CAST(doc_id % 50 AS VARCHAR)
              || '.example.com/p/' || CAST(doc_id AS VARCHAR)
              || ' and http://m' || CAST(doc_id % 7 AS VARCHAR)
              || '.example.org' AS text
  FROM documents),
u AS (
  SELECT doc_id,
         lower(regexp_extract(url, '^https?://([^/:]+)', 1)) AS domain
  FROM (SELECT doc_id,
               unnest(regexp_extract_all(text, '{URL_PATTERN}')) AS url
        FROM s))
SELECT domain, count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs
FROM u GROUP BY domain
"""


def _inject_urls_sql() -> str:
    """CTE mirroring _inject_messy_urls (one dressed-up URL per doc)."""
    return """
s AS MATERIALIZED (
  SELECT doc_id,
         text || ' see ' ||
         CASE doc_id % 5
           WHEN 1 THEN 'https://WWW.Site' || CAST(doc_id % 50 AS VARCHAR)
                    || '.Example.COM:443/page'
                    || CAST(doc_id % 10 AS VARCHAR) || '/'
           WHEN 2 THEN 'https://site' || CAST(doc_id % 50 AS VARCHAR)
                    || '.example.com/page' || CAST(doc_id % 10 AS VARCHAR)
                    || '?utm_source=feed' || CAST(doc_id AS VARCHAR)
           WHEN 3 THEN 'https://site' || CAST(doc_id % 50 AS VARCHAR)
                    || '.example.com/page' || CAST(doc_id % 10 AS VARCHAR)
                    || '#sec' || CAST(doc_id AS VARCHAR)
           WHEN 4 THEN 'https://site' || CAST(doc_id % 50 AS VARCHAR)
                    || '.example.com/page' || CAST(doc_id % 10 AS VARCHAR)
                    || '/?utm_campaign=a&ref=r'
           ELSE 'https://site' || CAST(doc_id % 50 AS VARCHAR)
                    || '.example.com/page' || CAST(doc_id % 10 AS VARCHAR)
         END AS text
  FROM documents)"""


def _canonical_url_sql(expr: str) -> str:
    """DuckDB expression mirroring functions/urls.py canonical_url
    step-for-step (the patterns are identical Java∩RE2-portable
    strings; only the replacement backreference syntax differs,
    $1 Spark-side vs \\1 RE2-side)."""
    head = (
        "regexp_replace(regexp_replace(regexp_replace("
        f"lower(regexp_extract({expr}, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*')), "
        r"'^(http://[^/:]+):80$', '\1'), "
        r"'^(https://[^/:]+):443$', '\1'), "
        r"'^(https?://)www\.', '\1')"
    )
    rest = (
        f"({expr})[length(regexp_extract({expr}, "
        "'^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*'))+1:]"
    )
    return (
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        "regexp_replace(regexp_replace("
        f"{head} || {rest}, "
        "'#.*$', '', 'g'), "
        "'[?&](?:utm_[a-z0-9_]*|gclid|fbclid|ref)=[^&#]*', '', 'g'), "
        r"'^([^?&]*)&', '\1?'), "
        r"'/+\?', '?', 'g'), "
        "'[?&]+$', '', 'g'), "
        "'/+$', '', 'g')"
    )


def _canonical_urls_cte() -> str:
    """Injection + extraction + canonicalization CTE chain shared by
    the three wave-17 URL oracles; exposes c(doc_id, url, canonical)."""
    from parallel_pagerank_spark.functions.urls import URL_PATTERN

    return f"""
WITH {_inject_urls_sql()},
u AS (
  SELECT doc_id,
         unnest(regexp_extract_all(text, '{URL_PATTERN}')) AS url
  FROM s),
c AS (
  SELECT doc_id, url, {_canonical_url_sql('url')} AS canonical
  FROM u)"""


def _url_canonical_sql() -> str:
    return _canonical_urls_cte() + "\nSELECT doc_id, url, canonical FROM c"


def _url_dedup_sql() -> str:
    return (
        _canonical_urls_cte()
        + """
SELECT canonical,
       min(doc_id) AS keep_id,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_occ
FROM c GROUP BY canonical"""
    )


def _domain_quota_sql(k: int = 3) -> str:
    from parallel_pagerank_spark.functions.splits import split_bucket_sql

    bucket = split_bucket_sql("doc_id")
    return (
        _canonical_urls_cte()
        + f""",
d AS (
  SELECT doc_id,
         lower(regexp_extract(canonical, '^https?://([^/:]+)', 1)) AS domain
  FROM c),
r AS (
  SELECT doc_id, domain,
         row_number() OVER (
           PARTITION BY domain ORDER BY {bucket}, doc_id) AS rn
  FROM d)
SELECT doc_id, domain FROM r WHERE rn <= {k}"""
    )


def _quality_classifier_sql() -> str:
    """Mirror of _q_quality_classifier: identical tokenization (the
    engine-wide canonical normalization), per-class token counts,
    exact integer cross-multiplied weights, and per-doc score sums —
    every value an exact integer, so the hash check is bit-identical."""
    return r"""
WITH tk AS MATERIALIZED (
  SELECT doc_id, term FROM (
    SELECT doc_id,
           unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
    FROM documents)
  WHERE term <> ''),
lab AS (SELECT doc_id, (source = 'src0') AS pos FROM documents),
lt AS MATERIALIZED (
  SELECT t.term, l.pos FROM tk t JOIN lab l USING (doc_id)),
pt AS (
  SELECT term,
         count(*) FILTER (pos) AS c_pos,
         count(*) FILTER (NOT pos) AS c_neg
  FROM lt GROUP BY term),
tot AS (
  SELECT count(*) FILTER (pos) AS n_pos,
         count(*) FILTER (NOT pos) AS n_neg
  FROM lt),
m AS (
  SELECT term, c_pos * n_neg - c_neg * n_pos AS weight
  FROM pt CROSS JOIN tot),
sc AS (
  SELECT t.doc_id,
         sum(coalesce(m.weight, 0)) AS score,
         count(*) AS n_toks
  FROM tk t LEFT JOIN m USING (term) GROUP BY t.doc_id)
SELECT d.doc_id,
       CAST(coalesce(sc.score, 0) AS BIGINT) AS score,
       CAST(coalesce(sc.n_toks, 0) AS BIGINT) AS n_toks
FROM documents d LEFT JOIN sc USING (doc_id)
"""


def _lm_score_sql() -> str:
    """Mirror of _q_lm_score (functions/lm.py model): bigrams via zipped
    list-slice unnests (DuckDB zips parallel unnests), add-one smoothing
    with the bigram-left marginal and the training-slice vocabulary."""
    return r"""
WITH tr AS MATERIALIZED (
  SELECT string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents WHERE lang = 'en'),
trb AS MATERIALIZED (
  SELECT unnest(toks[1:len(toks)-1]) AS w1,
         unnest(toks[2:len(toks)]) AS w2
  FROM tr WHERE len(toks) >= 2),
bc AS MATERIALIZED (SELECT w1, w2, count(*) AS nb FROM trb GROUP BY w1, w2),
mc AS MATERIALIZED (SELECT w1, sum(nb) AS nu FROM bc GROUP BY w1),
v AS (SELECT count(DISTINCT tok) AS vs
      FROM (SELECT unnest(toks) AS tok FROM tr)),
sc AS MATERIALIZED (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents),
sb AS (
  SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1,
         unnest(toks[2:len(toks)]) AS w2
  FROM sc WHERE len(toks) >= 2),
terms AS (
  SELECT sb.doc_id,
         ln((coalesce(bc.nb, 0) + 1)::DOUBLE
            / (coalesce(mc.nu, 0) + v.vs)::DOUBLE) AS lp
  FROM sb CROSS JOIN v
  LEFT JOIN bc ON bc.w1 = sb.w1 AND bc.w2 = sb.w2
  LEFT JOIN mc ON mc.w1 = sb.w1)
SELECT doc_id, count(*) AS n_bigrams, round(-avg(lp), 9) AS nll
FROM terms GROUP BY doc_id
"""


def _salsa_sql(rounds: int = 18) -> str:
    """Mirror of operators/salsa.py salsa_scores(side='authority'):
    FastSV components over the bipartite lift (hub h → 2h, authority a
    → 2a+1 — parity separation means no self-loops by construction),
    then the Lempel-Moran closed form (|A_C|·d_in)/(|A|·Σ_C d_in) as one
    exact-integer-product division. Two extra FastSV rounds vs the plain
    CC oracle: the bipartite lift doubles path lengths."""
    prelude = f"""{_EDGES_MAT_CTE},
de AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
bip AS MATERIALIZED (SELECT 2 * src AS u, 2 * dst + 1 AS v FROM de),
sym AS MATERIALIZED (
  SELECT u, v FROM bip UNION SELECT v, u FROM bip),
verts AS MATERIALIZED (SELECT DISTINCT u AS id FROM sym)"""
    final = """SELECT a.id,
       round((c.na * a.din)::DOUBLE / (t.ta * c.dsum)::DOUBLE, 9)
         AS score
FROM (SELECT d.id, d.din, l.lbl AS comp
      FROM (SELECT 2 * dst + 1 AS bid, dst AS id, count(*) AS din
            FROM de GROUP BY dst) d
      JOIN {labels} l ON l.id = d.bid) a
JOIN (SELECT l.lbl AS comp, count(*) AS na, sum(d.din) AS dsum
      FROM (SELECT 2 * dst + 1 AS bid, count(*) AS din
            FROM de GROUP BY dst) d
      JOIN {labels} l ON l.id = d.bid
      GROUP BY l.lbl) c ON c.comp = a.comp
CROSS JOIN (SELECT count(DISTINCT dst) AS ta FROM de) t"""
    return _cc_sql(rounds=rounds, final=final, prelude=prelude)


def _span_cte(k: int, min_docs: int) -> str:
    """Shared CTE prefix for the duplicate-span pair (mirror of
    functions/spans.py token_spans + duplicate_spans): zipped parallel
    unnests for token positions, a lead(w, j)-chain to materialize each
    k-token sliding window (NULL-chained past the doc end, filtered by
    the last lead), then the span-keyed distinct-doc / occurrence
    aggregation."""
    leads = " || ' ' || ".join(
        ["w"] + [f"lead(w, {j}) OVER win" for j in range(1, k)]
    )
    return f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id,
         generate_subscripts(string_split({_NORM_TEXT_SQL}, ' '), 1) AS pos,
         unnest(string_split({_NORM_TEXT_SQL}, ' ')) AS w
  FROM documents WHERE length({_NORM_TEXT_SQL}) > 0),
wins AS MATERIALIZED (
  SELECT doc_id, pos, {leads} AS span,
         lead(w, {k - 1}) OVER win AS wk
  FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
spans AS MATERIALIZED (
  SELECT doc_id, pos, span FROM wins WHERE wk IS NOT NULL),
dup AS MATERIALIZED (
  SELECT span, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
  FROM spans GROUP BY span HAVING count(DISTINCT doc_id) >= {min_docs})"""


def _pack_cte(seq_len: int) -> str:
    """Shared CTE prefix for the packing pair (mirror of
    functions/packing.py): per-doc token counts (+1 EOS), a window
    prefix sum in doc_id order for the global stream offsets, then
    each doc laterally expanded to the sequences it overlaps with
    exact-integer greatest/least slice arithmetic."""
    return f"""
WITH counts AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN length({_NORM_TEXT_SQL}) = 0 THEN 0
              ELSE len(string_split({_NORM_TEXT_SQL}, ' ')) END + 1 AS n
  FROM documents),
offs AS MATERIALIZED (
  SELECT doc_id, n,
         coalesce(sum(n) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS off
  FROM counts),
sm AS MATERIALIZED (
  SELECT g.seq_id::BIGINT AS seq_id, doc_id,
         (greatest(off, g.seq_id * {seq_len}) - off + 1)::BIGINT
           AS tok_start,
         (greatest(off, g.seq_id * {seq_len})
          - g.seq_id * {seq_len})::BIGINT AS seq_pos,
         (least(off + n, (g.seq_id + 1) * {seq_len})
          - greatest(off, g.seq_id * {seq_len}))::BIGINT AS slice_len
  FROM offs, unnest(generate_series(off // {seq_len},
                                    (off + n - 1) // {seq_len}))
       AS g(seq_id))"""


def _pack_text_sql(seq_len: int) -> str:
    """Mirror of _q_seq_pack_text: slices cut from the (tokens + EOS)
    lists by 1-based inclusive list slicing, reassembled per sequence
    with string_agg ORDER BY seq_pos."""
    return (
        _pack_cte(seq_len)
        + f""",
ext AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN length({_NORM_TEXT_SQL}) = 0 THEN ['<eos>']
              ELSE string_split({_NORM_TEXT_SQL}, ' ') || ['<eos>'] END
           AS toks
  FROM documents),
pieces AS (
  SELECT sm.seq_id, sm.seq_pos, sm.slice_len,
         array_to_string(toks[tok_start : tok_start + slice_len - 1], ' ')
           AS txt
  FROM sm JOIN ext USING (doc_id))
SELECT seq_id, sum(slice_len)::BIGINT AS n_tokens,
       string_agg(txt, ' ' ORDER BY seq_pos) AS seq_text
FROM pieces GROUP BY seq_id"""
    )


def _span_scrub_sql(k: int, min_docs: int) -> str:
    """Mirror of _q_span_scrub: duplicated window starts expand to
    covered token positions (start + range(0, k) — overlaps merge via
    DISTINCT), survivors re-joined with string_agg ORDER BY pos;
    all-covered and empty docs coalesce to ''."""
    return (
        _span_cte(k, min_docs)
        + f""",
starts AS (SELECT s.doc_id, s.pos FROM spans s JOIN dup USING (span)),
cov AS (SELECT DISTINCT doc_id, pos + g.range AS cpos
        FROM starts, range(0, {k}) g),
keep AS (SELECT t.doc_id, t.pos, t.w
         FROM tok t LEFT JOIN cov c
           ON t.doc_id = c.doc_id AND t.pos = c.cpos
         WHERE c.cpos IS NULL),
agg AS (SELECT doc_id, count(*) AS n_kept,
               string_agg(w, ' ' ORDER BY pos) AS clean
        FROM keep GROUP BY doc_id),
nt AS (SELECT doc_id,
              CASE WHEN length({_NORM_TEXT_SQL}) = 0 THEN 0
                   ELSE len(string_split({_NORM_TEXT_SQL}, ' ')) END
                AS n_tokens
       FROM documents)
SELECT nt.doc_id,
       nt.n_tokens::BIGINT AS n_tokens,
       (nt.n_tokens - coalesce(agg.n_kept, 0))::BIGINT AS n_removed,
       coalesce(agg.clean, '') AS clean_text
FROM nt LEFT JOIN agg USING (doc_id)
"""
    )


def _boilerplate_scrub_sql(min_docs: int, min_chars: int, delim: str) -> str:
    """Mirror of _q_boilerplate_scrub: the _boilerplate_sql mining CTE,
    then split-flag-reassemble (zipped parallel unnests for positions,
    string_agg ORDER BY pos to rebuild — all-fragment docs coalesce to
    '')."""
    return f"""
WITH bp AS MATERIALIZED (
  SELECT passage FROM (
    SELECT passage, count(*) AS n_docs FROM (
      SELECT DISTINCT doc_id, passage FROM (
        SELECT doc_id, trim(p) AS passage FROM (
          SELECT doc_id,
                 unnest(string_split({_NORM_TEXT_SQL}, '{delim}')) AS p
          FROM documents))
      WHERE length(passage) >= {min_chars})
    GROUP BY passage)
  WHERE n_docs >= {min_docs}),
t AS MATERIALIZED (
  SELECT doc_id, string_split({_NORM_TEXT_SQL}, '{delim}') AS ps
  FROM documents),
parts AS MATERIALIZED (
  SELECT doc_id,
         unnest(range(1, len(ps) + 1)) AS pos,
         unnest(ps) AS part
  FROM t),
j AS (
  SELECT p.doc_id, p.pos, p.part,
         (bp.passage IS NOT NULL) AS is_bp
  FROM parts p LEFT JOIN bp ON bp.passage = trim(p.part))
SELECT doc_id,
       count(*) FILTER (is_bp) AS n_removed,
       coalesce(
         string_agg(part, '{delim}' ORDER BY pos) FILTER (NOT is_bp),
         '') AS clean_text
FROM j GROUP BY doc_id
"""
