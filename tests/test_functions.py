"""Training-data-pipeline operators: text analysis, dedup, similarity,
multimodal plumbing — vs brute-force Python oracles on the driver testdata
and synthetic fixtures."""

from __future__ import annotations

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from parallel_pagerank_spark.functions.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_dups,
)
from parallel_pagerank_spark.functions.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    ivf_assign,
)
from parallel_pagerank_spark.functions.text import (
    analyze_documents,
    language_id,
    whitespace_token_count,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_token_count(spark):
    df = spark.createDataFrame(
        [("a b  c",), ("",), ("   ",), ("one",), (None,)], "text string"
    )
    got = [
        r["n"]
        for r in df.select(
            whitespace_token_count(F.col("text")).alias("n")
        ).collect()
    ]
    assert got == [3, 0, 0, 1, None]


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog with this hat",),
            ("der hund und die katze ist nicht da",),
            ("les chats sont dans une maison est",),
            ("los gatos y las casas por una con",),
            ("zzz qqq xxx",),
        ],
        "text string",
    )
    got = [r["l"] for r in df.select(language_id("text").alias("l")).collect()]
    assert got == ["en", "de", "fr", "es", "und"]


def test_analyze_documents_runs(documents):
    out = analyze_documents(documents)
    rows = out.limit(20).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["n_chars"] == len(r["text"])
        assert 0.0 <= r["quality"] <= 1.0
        assert r["n_tokens"] == len(r["text"].split())
    # fingerprint deterministic across recomputation
    a = {r["doc_id"]: r["fingerprint"] for r in out.limit(50).collect()}
    b = {r["doc_id"]: r["fingerprint"] for r in out.limit(50).collect()}
    assert a == b


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [
            (1, "Hello  World"),
            (2, "hello world"),  # dup after normalization
            (3, "different"),
            (4, "HELLO WORLD "),  # dup
        ],
        "doc_id long, text string",
    )
    out = exact_dedup(df).collect()
    groups = {r["keep_id"]: r["dup_count"] for r in out}
    assert groups == {1: 3, 3: 1}


def _jaccard(a: str, b: str, n: int = 5) -> float:
    def sh(t):
        t = " ".join(t.lower().split())
        return {t[i : i + n] for i in range(max(1, len(t) - n + 1))}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away"
    texts = [
        (1, base),
        (2, base.replace("lazy", "sleepy")),  # near-dup of 1
        (3, base),  # exact dup of 1
        (4, "completely unrelated content about spark dataframes and joins"),
        (5, "another distinct document mentioning minhash signatures only"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_dedup(df, threshold=0.5).collect()
    }
    assert (1, 3) in pairs and pairs[(1, 3)] == 1.0
    assert (1, 2) in pairs
    assert pairs[(1, 2)] == pytest.approx(_jaccard(texts[0][1], texts[1][1]))
    assert all(4 not in p and 5 not in p for p in pairs)


def test_minhash_est_jaccard_close(spark, documents):
    # near-dup estimate vs exact jaccard on duplicated real docs
    docs = documents.limit(30)
    dup = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    both = docs.select("doc_id", "text").unionByName(dup)
    cands = minhash_lsh_candidates(both).collect()
    found = {(r["id_a"], r["id_b"]) for r in cands}
    ids = [r["doc_id"] for r in docs.collect()]
    for i in ids:
        assert (i, i + 100000) in found
    for r in cands:
        if r["id_b"] == r["id_a"] + 100000:
            assert r["est_jaccard"] == 1.0


def test_minhash_oph_estimates_and_densification(spark):
    """The OPH scale path (one hash per shingle + rotation densification)
    estimates Jaccard within statistical tolerance, gives exact copies
    est 1.0, and does NOT produce empty-vs-empty band collisions between
    unrelated short docs (the densification failure mode)."""
    base = (
        "large scale training data pipelines deduplicate documents with "
        "minhash signatures banded into buckets for locality sensitive "
        "hashing so that candidate pairs never go quadratic in corpus size"
    )
    near = base.replace("documents", "records").replace("corpus", "input")
    rows = [
        (1, base),
        (2, near),
        (3, base),  # exact copy of 1
        # short docs: ~25 of 64 bins populated → heavy densification
        (4, "alpha beta gamma delta"),
        (5, "zulu yankee xray whiskey"),
        (6, "alpha beta gamma delta"),  # exact copy of 4
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cands = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_candidates(df, impl="oph").collect()
    }
    assert cands[(1, 3)] == 1.0
    assert cands[(4, 6)] == 1.0
    # near-dup found, estimate within loose statistical tolerance of the
    # exact 5-gram jaccard (k=64 → sd ~ 0.06; densified bins add a bit)
    exact = _jaccard(base, near)
    assert (1, 2) in cands
    assert abs(cands[(1, 2)] - exact) < 0.25
    # unrelated short docs must not collide via shared-empty bands
    for p in [(4, 5), (5, 6)]:
        assert p not in cands


def test_simhash_properties(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "entirely different words appear in this sentence now"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    h = {r["id"]: r["simhash"] for r in simhash(df).collect()}
    assert h[4] == 0

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(h[1], h[2]) < hamming(h[1], h[3])
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dups(df, max_hamming=12, blocks=16).collect()
    }
    assert (1, 2) in pairs


def test_ngram_jaccard_pairs(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c d x"),
            (3, "x y z w v"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_a long, id_b long"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, pairs, n=3).collect()
    }
    # trigrams of 1: {abc,bcd,cde}; of 2: {abc,bcd,cdx} → 2/4
    assert got[(1, 2)] == pytest.approx(0.5)
    assert got[(1, 3)] == 0.0


def _topk_oracle(vecs: dict[int, np.ndarray], k: int) -> dict[int, list[int]]:
    out = {}
    for qid, qv in vecs.items():
        scores = []
        for nid, nv in vecs.items():
            if nid == qid:
                continue
            cos = float(
                qv @ nv / max(np.linalg.norm(qv) * np.linalg.norm(nv), 1e-12)
            )
            scores.append((-cos, nid))
        out[qid] = [nid for _, nid in sorted(scores)[:k]]
    return out


def test_cosine_topk_bruteforce(spark, embeddings):
    corpus = embeddings.limit(120).cache()
    queries = corpus.limit(8)
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in corpus.collect()
    }
    want = _topk_oracle(
        {k: v for k, v in vecs.items()}, k=5
    )
    got_rows = cosine_topk_bruteforce(corpus, queries, k=5).collect()
    got = {}
    for r in sorted(got_rows, key=lambda r: (r["query_id"], r["rnk"])):
        got.setdefault(r["query_id"], []).append(r["neighbor_id"])
    for qid in got:
        assert got[qid] == want[qid][:5], qid


def test_cosine_topk_lsh_recall(spark, embeddings):
    corpus = embeddings.limit(200).cache()
    queries = corpus.limit(10)
    dim = len(corpus.first()["embedding"])
    exact_rows = cosine_topk_bruteforce(corpus, queries, k=5).collect()
    exact = {}
    for r in exact_rows:
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx_rows = cosine_topk_lsh(
        corpus, queries, dim=dim, k=5, nbits=6, n_tables=8
    ).collect()
    approx = {}
    for r in approx_rows:
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # recall gate: 8 tables x 64 buckets on 200 random vecs
    hits = sum(
        len(exact[q] & approx.get(q, set())) for q in exact
    )
    total = sum(len(exact[q]) for q in exact)
    assert hits / total >= 0.3, f"recall {hits}/{total}"


def test_ivf_assign(spark, embeddings):
    corpus = embeddings.limit(200)
    dim = len(corpus.first()["embedding"])
    assign, cents = ivf_assign(corpus, dim=dim, n_cells=8)
    rows = assign.collect()
    assert len(rows) == 200
    assert {r["cell"] for r in rows} <= set(range(8))
    # deterministic
    assign2, cents2 = ivf_assign(corpus, dim=dim, n_cells=8)
    assert np.allclose(cents, cents2)
    assert {r["id"]: r["cell"] for r in assign2.collect()} == {
        r["id"]: r["cell"] for r in rows
    }


def test_cosine_topk_ivf_recall(spark, embeddings):
    """IVF probe path: top-k within probed cells only; with n_probe close
    to n_cells the result approaches exact, and probing ALL cells must
    reproduce brute force exactly (every candidate scored)."""
    from parallel_pagerank_spark.functions.similarity import cosine_topk_ivf

    corpus = embeddings.limit(200).cache()
    queries = corpus.limit(10)
    dim = len(corpus.first()["embedding"])
    exact_rows = cosine_topk_bruteforce(corpus, queries, k=5).collect()
    exact = {}
    for r in exact_rows:
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx_rows = cosine_topk_ivf(
        corpus, queries, dim=dim, k=5, n_cells=8, n_probe=4
    ).collect()
    approx = {}
    for r in approx_rows:
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(exact[q]) for q in exact)
    assert hits / total >= 0.3, f"recall {hits}/{total}"
    # probing every cell == scoring the full corpus == brute force
    full_rows = cosine_topk_ivf(
        corpus, queries, dim=dim, k=5, n_cells=8, n_probe=8
    ).collect()
    full = {(r["query_id"], r["neighbor_id"], r["rnk"]) for r in full_rows}
    want = {(r["query_id"], r["neighbor_id"], r["rnk"]) for r in exact_rows}
    assert full == want


def test_multimodal_plumbing(spark):
    from parallel_pagerank_spark.functions.multimodal import (
        image_features,
        media_repartition,
        sample_frames,
        synthetic_media,
    )

    media = synthetic_media(spark, n_rows=30)
    media = media_repartition(media, target_bytes=16 << 10)
    feats = image_features(media).collect()
    assert len(feats) == len([r for r in media.collect() if r["kind"] == "image"])
    for r in feats:
        assert len(r["feature"]) == 64
        assert 0 <= r["mean_luma"] <= 1
    # deterministic across recomputation
    again = {r["media_id"]: r["feature"] for r in image_features(media).collect()}
    assert {r["media_id"]: r["feature"] for r in feats} == again

    frames = sample_frames(media, every_nth=10).collect()
    vids = [r for r in media.collect() if r["kind"] == "video"]
    assert len(frames) == sum(
        len(range(0, r["meta"]["n_frames"], 10)) for r in vids
    )
    # real decoder on arbitrary (non-codec) bytes: the per-row dispatch
    # raises — surfaced by Spark as a wrapped worker exception
    with pytest.raises(Exception, match="PPM|BMP|codec"):
        image_features(media, decoder="real").collect()
    # arbitrary video bytes are not an MJPEG stream -> per-row raise
    with pytest.raises(Exception, match="MJPEG|pyav|ffmpeg"):
        sample_frames(media, every_nth=10, decoder="real").collect()


def test_sample_frames_real_mjpeg(spark):
    """Real video frame sampling: synthetic video rows carry genuine
    containers — raw concatenated-JPEG MJPEG streams and (r5) MP4 with
    a 'jpeg' track; every_nth sampling decodes only those frames and
    hashes the actual pixels (deterministic)."""
    from parallel_pagerank_spark.functions.jpeg import (
        decode_jpeg,
        decode_mjpeg_frames,
        split_mjpeg,
    )
    from parallel_pagerank_spark.functions.mp4 import (
        extract_video_samples,
        is_mp4,
        mp4_info,
    )
    from parallel_pagerank_spark.functions.multimodal import (
        sample_frames,
        synthetic_media,
    )

    media = synthetic_media(spark, n_rows=12, real_payloads=True)
    vids = {
        r["media_id"]: bytes(r["content"])
        for r in media.collect()
        if r["kind"] == "video"
    }
    out = sample_frames(media, every_nth=2, decoder="real").collect()
    got = {(r["media_id"], r["frame_idx"]): r["frame_hash"] for r in out}
    import pandas as _pd

    def _h(rgb):
        return int(
            _pd.util.hash_array(rgb.reshape(-1).astype(np.int64))
            .sum()
            .astype(np.int64)
        )

    want = {}
    saw_mp4 = saw_mjpeg = False
    for mid, content in vids.items():
        if content[:2] == b"\xff\xd8":
            saw_mjpeg = True
            n = len(split_mjpeg(content))
            for fi, rgb in decode_mjpeg_frames(
                content, list(range(0, n, 2))
            ):
                want[(mid, fi)] = _h(rgb)
        else:
            saw_mp4 = True
            assert is_mp4(content)
            n = mp4_info(content)["tracks"][0]["n_samples"]
            for fi, raw in extract_video_samples(
                content, list(range(0, n, 2))
            ):
                want[(mid, fi)] = _h(decode_jpeg(raw))
    assert got == want and len(got) > 0
    assert saw_mp4 and saw_mjpeg  # both container paths exercised
    # container parse finds every frame the meta promised
    for r in media.collect():
        if r["kind"] == "video":
            c = bytes(r["content"])
            n = (
                len(split_mjpeg(c))
                if c[:2] == b"\xff\xd8"
                else mp4_info(c)["tracks"][0]["n_samples"]
            )
            assert n == r["meta"]["n_frames"]


def test_sessionize(spark):
    import datetime as dt

    from parallel_pagerank_spark.functions.sessions import (
        session_stats,
        sessionize,
    )

    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        # user 1: two sessions (gap 31 min between events 2 and 3)
        (1, 10, base),
        (2, 10, base + dt.timedelta(minutes=5)),
        (3, 10, base + dt.timedelta(minutes=36)),
        # user 2: one session
        (4, 20, base),
        (5, 20, base + dt.timedelta(minutes=29)),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp"
    )
    got = {
        r["event_id"]: r["session_idx"]
        for r in sessionize(ev, gap_seconds=1800).collect()
    }
    assert got == {1: 1, 2: 1, 3: 2, 4: 1, 5: 1}
    stats = {
        (r["user_id"], r["session_idx"]): (r["n_events"], r["duration_sec"])
        for r in session_stats(ev, gap_seconds=1800).collect()
    }
    assert stats == {
        (10, 1): (2, 300),
        (10, 2): (1, 0),
        (20, 1): (2, 1740),
    }


def test_codec_roundtrips():
    """PPM/BMP/WAV encode→decode == original (zero-dependency codecs)."""
    import numpy as np

    from parallel_pagerank_spark.functions import codecs

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(13, 17, 3)).astype(np.uint8)
    assert (codecs.decode_ppm(codecs.encode_ppm(img)) == img).all()
    assert (codecs.decode_bmp(codecs.encode_bmp(img)) == img).all()
    x = (rng.uniform(-1, 1, 500)).astype(np.float32)
    dec, rate = codecs.decode_wav(codecs.encode_wav(x, 8000))
    assert rate == 8000 and len(dec) == 500
    # int16 quantization: scale error ≤ |x|/32768 plus half-step rounding
    assert np.allclose(dec, x, atol=1e-4)
    # comment-bearing PPM header still parses
    weird = b"P6\n# a comment\n4 2\n255\n" + bytes(range(24))
    assert codecs.decode_ppm(weird).shape == (2, 4, 3)


def test_multimodal_real_decode(spark):
    """decoder='real' actually decodes PPM/BMP/WAV payloads: luma matches a
    direct numpy computation, audio RMS matches, resize round-trips."""
    import numpy as np

    from parallel_pagerank_spark.functions import codecs
    from parallel_pagerank_spark.functions.multimodal import (
        audio_features,
        image_features,
        resize_images,
        synthetic_media,
    )

    media = synthetic_media(spark, n_rows=18, real_payloads=True)
    raw = {
        r["media_id"]: (r["kind"], bytes(r["content"]))
        for r in media.collect()
    }

    feats = {
        r["media_id"]: r
        for r in image_features(media, decoder="real").collect()
    }
    assert len(feats) == 6
    for mid, row in feats.items():
        img = codecs.decode_image(raw[mid][1])
        want_luma = float(codecs.grayscale(img).mean()) / 255.0
        assert row["mean_luma"] == pytest.approx(want_luma, abs=1e-6)
        assert len(row["feature"]) == 64

    auds = {
        r["media_id"]: r
        for r in audio_features(media, decoder="real").collect()
    }
    assert len(auds) == 6
    for mid, row in auds.items():
        x, rate = codecs.decode_wav(raw[mid][1])
        assert row["sample_rate"] == rate == 16000
        assert row["n_samples"] == len(x)
        assert row["rms"] == pytest.approx(
            float(np.sqrt(np.mean(x * x))), abs=1e-9
        )
        assert 0.0 < row["rms"] < 1.0

    resized = resize_images(media, 8, 6).collect()
    assert len(resized) == 6
    for r in resized:
        out = codecs.decode_ppm(bytes(r["content"]))
        assert out.shape == (6, 8, 3)


def test_multimodal_unsupported_codec_raises(spark):
    from parallel_pagerank_spark.functions.multimodal import (
        image_features,
        synthetic_media,
    )

    media = synthetic_media(spark, n_rows=6, real_payloads=False)
    with pytest.raises(Exception, match="not a BMP|NotImplemented|codec"):
        image_features(media, decoder="real").collect()


def test_calibrated_nbits():
    """Hash width scales with corpus size (expected bucket <= ~2), never
    drops below the caller's floor, and caps at srp's 32-bit-safe bound."""
    from parallel_pagerank_spark.functions.dedup import calibrated_nbits

    assert calibrated_nbits(0, 12) == 12  # empty / tiny: floor wins
    assert calibrated_nbits(60, 8) == 8  # small corpus: floor wins
    assert calibrated_nbits(2_000, 12) == 12  # sf0.01 tier: unchanged
    assert calibrated_nbits(1_000_000, 12) == 19  # 10^6: widened
    assert calibrated_nbits(10**12, 12) == 30  # capped
    for n in (10, 10**3, 10**6, 10**9):
        assert n / 2 ** calibrated_nbits(n, 0) <= 2.0


def test_embedding_near_dups(spark):
    """LSH scale path finds exact-copy pairs with recall 1.0 and matches
    brute force; perturbed near-dups are found with high recall."""
    import numpy as np

    from parallel_pagerank_spark.functions.dedup import embedding_near_dups

    rng = np.random.default_rng(5)
    base = rng.standard_normal((40, 32)).astype(np.float32)
    rows = [(i, base[i].tolist()) for i in range(40)]
    # ids 100..109: exact copies of 0..9 → cosine 1.0
    rows += [(100 + i, base[i].tolist()) for i in range(10)]
    # ids 200..209: small perturbations of 10..19 → cosine ~0.995
    pert = base[10:20] + 0.1 * rng.standard_normal((10, 32)).astype(
        np.float32
    )
    rows += [(200 + i, pert[i].tolist()) for i in range(10)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    want = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups(
            emb, threshold=0.9, method="bruteforce"
        ).collect()
    }
    assert {(i, 100 + i) for i in range(10)} <= want
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups(
            emb, threshold=0.9, method="lsh", n_tables=8, nbits=8
        ).collect()
    }
    # exact copies: recall 1.0 (identical vectors collide in every table)
    assert {(i, 100 + i) for i in range(10)} <= got
    # overall recall gate incl. perturbed pairs; no false positives
    # (candidates are exact-verified)
    assert got <= want
    assert len(got) >= 0.8 * len(want)


def test_session_window_stats_matches_sessionize(spark):
    """The native session_window grouping and the lag/cumsum sessionize
    agree on session count and event multiset per user (away from the
    exact-gap boundary)."""
    import datetime as dt

    from parallel_pagerank_spark.functions.sessions import (
        session_stats,
        session_window_stats,
    )

    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows, eid = [], 0
    for user in ("a", "b"):
        offs = [0, 60, 120, 5000, 5100, 12000] if user == "a" else [
            0, 2000, 9000, 9600,
        ]
        for o in offs:
            rows.append((eid, user, base + dt.timedelta(seconds=o)))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, user_id string, ts timestamp"
    )
    native = session_window_stats(ev, gap="30 minutes").collect()
    lagged = session_stats(ev, gap_seconds=1800).collect()
    nat = sorted(
        (r["user_id"], r["n_events"]) for r in native
    )
    lag = sorted((r["user_id"], r["n_events"]) for r in lagged)
    assert nat == lag
    # a: [0,60,120] [5000,5100] [12000]; b: [0] [2000] [9000,9600]
    # (0→2000 is a 2000 s gap > 1800 → separate sessions)
    assert nat == [
        ("a", 1), ("a", 2), ("a", 3), ("b", 1), ("b", 1), ("b", 2),
    ]


def test_session_window_streaming(spark, tmp_path):
    """The SAME session_window aggregation runs as a streaming query:
    sessions closed by the advancing watermark emit in append mode."""
    import datetime as dt
    import glob
    import os
    import time

    from parallel_pagerank_spark.functions.sessions import (
        session_window_stats,
    )

    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    in_dir = str(tmp_path / "in")
    early = [(0, "u", base), (1, "u", base + dt.timedelta(seconds=60))]
    late = [(2, "u", base + dt.timedelta(hours=6))]
    schema = "event_id long, user_id string, ts timestamp"
    spark.createDataFrame(early, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    first = set(glob.glob(f"{in_dir}/*.parquet"))
    spark.createDataFrame(late, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    now = time.time()
    for f in first:
        os.utime(f, (now - 60, now - 60))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .withWatermark("ts", "1 hour")
    )
    out = str(tmp_path / "out")
    q = (
        session_window_stats(stream, gap="30 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out).collect()
    # the early 2-event session closed when the 6h-later batch advanced
    # the watermark; the final session stays open in state (append-mode
    # contract)
    assert [(r["user_id"], r["n_events"]) for r in got] == [("u", 2)]


def test_oracle_sql_result_columns_are_scalar():
    """Every driver oracle yields only int64/double/string/bool/timestamp
    style columns: DuckDB widens an integer ``sum`` to HUGEINT (Arrow
    decimal128) and ``list()`` aggregates to Arrow lists, and neither
    hashes equal to the BIGINT/string columns Spark emits for the same
    query."""
    import os

    import __spark_entry__ as entry

    duckdb = pytest.importorskip("duckdb")
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"{SF_DIR} absent")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    bad = [
        f"{name}.{f.name}: {f.type}"
        for name, sql in entry.oracle_sql().items()
        for f in con.execute(sql).fetch_arrow_table().schema
        if str(f.type).startswith(("decimal", "list", "large_list"))
    ]
    assert bad == []
