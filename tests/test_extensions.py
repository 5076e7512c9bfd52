"""Extension operators: text analysis, dedup (exact / MinHash-LSH /
SimHash / Jaccard), similarity search, multimodal plumbing.

Near-dup operators are validated against brute-force ground truth on
small corpora (SURVEY.md §7 hard part (e)).
"""

from __future__ import annotations

import itertools

import pytest
from conftest import scan_filters
from pyspark.sql import Row
from pyspark.sql import functions as F

from music_streaming_data_pipeline_v2_spark.operators import dedup, similarity, text
from music_streaming_data_pipeline_v2_spark.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    synthetic_media,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
    (2, "pack my box with five dozen liquor jugs"),
    (3, "pack my box with five dozen liquor jugs"),       # exact dup of 2
    (4, "der hund ist nicht ein katze und das ist gut"),  # German-ish
    (5, "le chat est un animal et la maison est grande"),  # French-ish
    (6, "completely different words appear here nowhere else at all"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in DOCS])


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def test_token_counts(spark, docs):
    out = {r.doc_id: r for r in text.with_token_counts(docs).collect()}
    assert out[0].n_tokens_ws == 9
    assert out[0].n_tokens_bpe == 9  # no punctuation → same count
    mixed = spark.createDataFrame([Row(doc_id=0, text="don't stop, it's 42!")])
    r = text.with_token_counts(mixed).collect()[0]
    assert r.n_tokens_ws == 4
    # don / ' / t | stop | , | it / ' / s | 42 | !
    assert r.n_tokens_bpe == 10


def test_quality_score_ranges(docs):
    rows = text.quality_score(docs).collect()
    for r in rows:
        assert 0.0 <= r.quality_score <= 1.0
        assert 0.0 <= r.unique_token_ratio <= 1.0
    by_id = {r.doc_id: r for r in rows}
    # doc 0 repeats "the" → lower unique ratio than doc 6 (all unique)
    assert by_id[6].unique_token_ratio > by_id[0].unique_token_ratio


def test_detect_language(docs):
    out = {r.doc_id: r.detected_lang for r in text.detect_language(docs).collect()}
    assert out[0] == "en"
    assert out[4] == "de"
    assert out[5] == "fr"
    assert out[6] == "und"  # no markers at all


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="Hello   World"),
            Row(doc_id=1, text="  hello world "),
            Row(doc_id=2, text="hello worlds"),
        ]
    )
    out = {r.doc_id: r.fingerprint_md5 for r in text.fingerprint(df).collect()}
    assert out[0] == out[1]
    assert out[0] != out[2]


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs).orderBy("doc_id").collect()
    ids = [r.doc_id for r in out]
    assert 3 not in ids and 2 in ids  # canonical = min doc_id
    assert {r.doc_id: r.n_copies for r in out}[2] == 2
    assert len(out) == len(DOCS) - 1


def test_word_shingles(spark):
    df = spark.createDataFrame([Row(doc_id=0, text="a b c d")])
    sh = df.select(dedup.word_shingles("text", 3).alias("s")).collect()[0].s
    assert sorted(sh) == ["a b c", "b c d"]
    short = spark.createDataFrame([Row(doc_id=0, text="a b")])
    assert short.select(dedup.word_shingles("text", 3).alias("s")).collect()[0].s == []


def _brute_force_jaccard(k=2, threshold=0.3):
    def shingles(t, k):
        toks = t.split()
        return set(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1))

    out = {}
    for (i, a), (j, b) in itertools.combinations(DOCS, 2):
        sa, sb = shingles(a, k), shingles(b, k)
        if sa and sb:
            jac = len(sa & sb) / len(sa | sb)
            if jac >= threshold:
                out[(i, j)] = jac
    return out


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_lsh_pairs(
            docs, num_hashes=32, bands=16, shingle_k=2, jaccard_threshold=0.3
        ).collect()
    }
    truth = _brute_force_jaccard(k=2, threshold=0.3)
    # exact dup pair must always surface; jaccard values are exact
    assert (2, 3) in pairs and pairs[(2, 3)] == 1.0
    assert (0, 1) in pairs
    for key, jac in pairs.items():
        assert key in truth
        assert abs(truth[key] - jac) < 1e-9
    # LSH may miss borderline pairs but with 16 bands recall on this
    # corpus should be total
    assert set(pairs) == set(truth)


def test_minhash_lsh_drop_stats_surface_capped_buckets(spark):
    """max_bucket silently capping recall must be observable: a
    boilerplate shingle shared by every doc overflows its bucket and
    the stats side-output reports the dropped mass."""
    n = 40
    # every doc shares the identical leading sentence (one boilerplate
    # shingle set) plus a unique tail so they aren't exact dups
    rows = [
        Row(doc_id=i, text="the same boilerplate header sentence here unique" + f" tail{i} word{i}")
        for i in range(n)
    ]
    df = spark.createDataFrame(rows)
    pairs, stats = dedup.minhash_lsh_pairs(
        df, num_hashes=8, bands=4, shingle_k=3,
        jaccard_threshold=0.9, max_bucket=10, with_stats=True,
    )
    s = stats.collect()[0]
    assert s["dropped_buckets"] > 0
    assert s["dropped_rows"] > 10  # at least one full overflowing bucket
    assert s["dropped_candidate_pairs"] >= 10 * 9 // 2
    # with the cap lifted nothing is dropped
    _, stats_uncapped = dedup.minhash_lsh_pairs(
        df, num_hashes=8, bands=4, shingle_k=3,
        jaccard_threshold=0.9, max_bucket=10_000, with_stats=True,
    )
    s2 = stats_uncapped.collect()[0]
    assert s2["dropped_buckets"] == 0
    assert s2["dropped_rows"] == 0
    assert s2["dropped_candidate_pairs"] == 0


def test_simhash_exact_dup_and_near(docs):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_pairs(docs, max_hamming=16).collect()
    }
    assert pairs.get((2, 3)) == 0  # identical text → identical signature
    assert (0, 1) in pairs  # 8/9 shared tokens → small hamming distance


def test_jaccard_pairs_with_blocking(spark, docs):
    blocked = docs.withColumn("blk", F.lit(1))
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.jaccard_pairs(
            blocked, "blk", threshold=0.5
        ).collect()
    }
    assert pairs[(2, 3)] == 1.0
    # distinct-token sets share 7 of 9 tokens (dog vs cat differ)
    assert pairs[(0, 1)] == pytest.approx(7 / 9)


@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.8])
def test_jaccard_strategies_agree(spark, docs, threshold):
    """Prefix-filtered join must be LOSSLESS vs the quadratic join."""
    blocked = docs.withColumn("blk", F.lit(1))

    def run(strategy):
        return {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.jaccard_pairs(
                blocked, "blk", threshold=threshold, strategy=strategy
            ).collect()
        }

    prefix, allpairs = run("prefix"), run("allpairs")
    assert set(prefix) == set(allpairs)
    for k in prefix:
        assert prefix[k] == pytest.approx(allpairs[k])
    # auto on this tiny-vocab corpus takes the 64-bit bitmask path —
    # must agree exactly with both explicit strategies
    auto = run("auto")
    assert set(auto) == set(allpairs)
    for k in auto:
        assert auto[k] == pytest.approx(allpairs[k])


def test_jaccard_auto_picks_bitmask_plan_for_small_vocab(spark, docs):
    """Strategy selection is observable in the physical plan: a ≤64
    token vocabulary must produce the bitmask join (bit_count on longs,
    no array set ops anywhere in the plan)."""
    blocked = docs.withColumn("blk", F.lit(1))
    df = dedup.jaccard_pairs(blocked, "blk", threshold=0.5, strategy="auto")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bit_count" in plan
    assert "array_intersect" not in plan


def test_jaccard_prefix_handles_empty_docs(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="alpha beta gamma", blk=1),
            Row(doc_id=1, text="alpha beta gamma delta", blk=1),
            Row(doc_id=2, text="   ", blk=1),
            Row(doc_id=3, text="", blk=1),
        ]
    )
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.jaccard_pairs(df, "blk", threshold=0.5, strategy="prefix").collect()
    }
    assert pairs == {(0, 1): pytest.approx(3 / 4)}


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def emb(spark):
    import math
    import random

    rng = random.Random(0)
    # 3 well-separated clusters on the unit sphere in 8d
    centers = [[1, 0, 0, 0, 0, 0, 0, 0], [0, 1, 0, 0, 0, 0, 0, 0],
               [0, 0, 1, 0, 0, 0, 0, 0]]
    rows = []
    for i in range(60):
        c = centers[i % 3]
        v = [x + rng.gauss(0, 0.05) for x in c]
        n = math.sqrt(sum(x * x for x in v))
        rows.append(Row(vec_id=i, embedding=[float(x / n) for x in v], label=i % 3))
    return spark.createDataFrame(rows)


def test_cosine_topk_exact(emb):
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.cosine_topk(emb, queries, k=10)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q.items():
        assert len(rs) == 10
        assert [r.rank for r in sorted(rs, key=lambda r: r.rank)] == list(range(1, 11))
        # rank 1 is the query itself (cosine 1.0)
        top = min(rs, key=lambda r: r.rank)
        assert top.neighbor_id == qid and top.cosine == pytest.approx(1.0)
        # same-cluster neighbors dominate the top-10
        same = sum(1 for r in rs if r.neighbor_id % 3 == qid % 3)
        assert same >= 9


def test_lsh_topk_recall(emb):
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(emb, queries, k=5).collect()
    approx = similarity.lsh_topk(
        emb, queries, k=5, bits=8, bands=4, dims=8
    ).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    # recall ≥ 0.6 per query on separated clusters
    for qid, truth in exact_sets.items():
        got = approx_sets.get(qid, set())
        assert len(got & truth) / len(truth) >= 0.6


def test_ivf_topk(emb):
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids = similarity.kmeans_lite(emb, n_centroids=6, seed=1)
    assert len(centroids) == 6 and len(centroids[0]) == 8
    out = similarity.ivf_topk(emb, queries, centroids, k=5, nprobe=3).collect()
    exact = similarity.cosine_topk(emb, queries, k=5).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    got_sets = {}
    for r in out:
        got_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for qid, truth in exact_sets.items():
        assert len(got_sets.get(qid, set()) & truth) / len(truth) >= 0.6


def test_semantic_dedup_keeps_one_per_tight_cluster(emb):
    # the fixture's 3 clusters are tight (within-cluster cosine ≈ 0.99);
    # with the true centers as codebook and a 0.9 threshold, exactly the
    # lowest-id member of each cluster survives
    centers = [
        [1.0, 0, 0, 0, 0, 0, 0, 0],
        [0, 1.0, 0, 0, 0, 0, 0, 0],
        [0, 0, 1.0, 0, 0, 0, 0, 0],
    ]
    out = similarity.semantic_dedup(emb, centers, threshold=0.9).collect()
    assert len(out) == 60  # full roster, kept and dropped
    kept = sorted(r.id for r in out if r.kept)
    assert kept == [0, 1, 2]  # min id of each residue class / cluster
    # assignment is the argmax cluster
    for r in out:
        assert r.centroid_id == r.id % 3


def test_semantic_dedup_duplication_invariant(spark, emb):
    """Replicating the corpus r× must not change which ORIGINAL ids
    survive, and every replica row must be dropped (its original is a
    cos=1 witness with a smaller id) — the contraction exactness
    argument, checked end-to-end."""
    centers = [
        [1.0, 0, 0, 0, 0, 0, 0, 0],
        [0, 1.0, 0, 0, 0, 0, 0, 0],
        [0, 0, 1.0, 0, 0, 0, 0, 0],
    ]
    single = similarity.semantic_dedup(emb, centers, threshold=0.97)
    base_kept = {r.id for r in single.collect() if r.kept}
    replicated = emb
    for i in (1, 2):
        replicated = replicated.unionByName(
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(1000 * i))
        )
    out = similarity.semantic_dedup(replicated, centers, threshold=0.97)
    rows = out.collect()
    assert len(rows) == 180
    assert {r.id for r in rows if r.kept} == base_kept
    assert all(not r.kept for r in rows if r.id >= 1000)


def test_semantic_dedup_null_and_zero_vectors_kept(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.0]),     # exact dup of 0 → dropped
        (2, [0.0, 0.0]),     # zero norm → cosine NULL → kept
        (3, [0.0, 0.0]),     # zero norm twin → also kept (no contraction)
        (4, None),           # null vector → kept
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = {
        r.id: r.kept
        for r in similarity.semantic_dedup(
            df, [[1.0, 0.0], [0.0, 1.0]], threshold=0.9
        ).collect()
    }
    assert out == {0: True, 1: False, 2: True, 3: True, 4: True}


def test_semantic_dedup_drop_rule_is_lowest_id_witness(emb):
    """A row is dropped iff some SMALLER-id same-cluster row is within
    threshold — verify against a brute-force replay."""
    centers = [
        [1.0, 0, 0, 0, 0, 0, 0, 0],
        [0, 1.0, 0, 0, 0, 0, 0, 0],
        [0, 0, 1.0, 0, 0, 0, 0, 0],
    ]
    rows = {r["vec_id"]: r["embedding"] for r in emb.collect()}

    def cos(a, b):
        import math

        num = sum(x * y for x, y in zip(a, b))
        return num / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    out = similarity.semantic_dedup(emb, centers, threshold=0.97)
    for r in out.collect():
        witnesses = [
            j
            for j in rows
            if j < r.id and j % 3 == r.id % 3 and cos(rows[j], rows[r.id]) >= 0.97
        ]
        assert r.kept == (not witnesses), (r.id, witnesses)


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

def test_extract_features_batched(spark):
    media = synthetic_media(spark, n=30)
    out = extract_features(media).collect()
    assert len(out) == 30
    for r in out:
        assert r.n_bytes > 0
        assert len(r.content_hash) == 32
        assert len(r.feature) == 8
        assert abs(sum(r.feature) - 1.0) < 1e-3  # histogram normalized
    # determinism: same content → same hash across runs
    again = {r.media_id: r.content_hash for r in extract_features(media).collect()}
    assert all(again[r.media_id] == r.content_hash for r in out)


def test_frame_sample_plan(spark):
    media = synthetic_media(spark, n=30)
    frames = frame_sample_plan(media, every_ms=1000)
    pdf = frames.toPandas()
    assert set(pdf.media_id.unique()) == {
        r.media_id for r in media.filter("modality = 'video'").collect()
    }
    one = media.filter("modality = 'video'").limit(1).collect()[0]
    n_expected = (one.meta.duration_ms - 1) // 1000 + 1
    assert (pdf.media_id == one.media_id).sum() == n_expected


def test_cosine_topk_pandas_matches_builtin(emb):
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = similarity.cosine_topk(emb, queries, k=8).collect()
    b = similarity.cosine_topk_pandas(emb, queries, k=8).collect()
    key = lambda r: (r.query_id, r.rank)
    a_map = {key(r): (r.neighbor_id, round(r.cosine, 9)) for r in a}
    b_map = {key(r): (r.neighbor_id, round(r.cosine, 9)) for r in b}
    assert a_map == b_map


def test_embedding_near_dup_pairs_lsh_vs_exact(emb):
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dup_pairs(
            emb, threshold=0.9, exact=True, dims=8
        ).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dup_pairs(
            emb, threshold=0.9, bits=8, bands=4, dims=8
        ).collect()
    }
    # clustered fixture has plenty of >0.9 pairs; LSH output must be a
    # subset of truth (it only generates candidates, scoring is exact)
    assert len(exact) > 0
    assert approx <= exact
    assert len(approx) / len(exact) >= 0.5  # recall on separated clusters


# ---------------------------------------------------------------------------
# sampling / dataset splits
# ---------------------------------------------------------------------------

def test_dataset_split_stable_and_partition_independent(spark):
    from music_streaming_data_pipeline_v2_spark.operators.sampling import (
        dataset_split,
        hash_sample,
    )

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    a = {r.doc_id: r.split for r in dataset_split(df, "doc_id").collect()}
    # same content, different partitioning → identical assignment
    b = {
        r.doc_id: r.split
        for r in dataset_split(df.repartition(13), "doc_id").collect()
    }
    assert a == b
    # growing the corpus never reassigns existing keys
    grown = spark.range(4000).select(F.col("id").alias("doc_id"))
    c = {r.doc_id: r.split for r in dataset_split(grown, "doc_id").collect()}
    assert all(c[k] == v for k, v in a.items())
    # proportions near 80/10/10
    from collections import Counter
    frac = Counter(a.values())
    assert 0.72 < frac["train"] / 2000 < 0.88
    assert 0.05 < frac["val"] / 2000 < 0.16
    # hash_sample subset property: smaller fraction ⊆ larger fraction
    s64 = {r.doc_id for r in hash_sample(df, "doc_id", 64).collect()}
    s128 = {r.doc_id for r in hash_sample(df, "doc_id", 128).collect()}
    assert s64 <= s128
    assert 0.15 < len(s64) / 2000 < 0.35


def test_multimodal_decode_stub_raises():
    from music_streaming_data_pipeline_v2_spark.operators.multimodal import decode_stub

    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        decode_stub(b"bytes", "jpeg")


def test_multimodal_pillow_gate_without_pillow(spark):
    """Environment-gated codec (like the protobuf TWS twin): when
    Pillow is absent the pillow kernel refuses loudly, 'auto' falls
    back to the stdlib ppm codec — whose non-PPM payloads land on the
    byte histogram — and the default is unchanged."""
    from music_streaming_data_pipeline_v2_spark.operators import multimodal as mm

    import pytest as _pytest

    if mm.pillow_available():
        _pytest.skip("Pillow installed — covered by the decode test")
    with _pytest.raises(NotImplementedError):
        mm.decode_image(b"\x89PNG")
    with _pytest.raises(NotImplementedError):
        mm.extract_features(mm.synthetic_media(spark, n=3), image_kernel="pillow")
    auto = mm.extract_features(mm.synthetic_media(spark, n=6), image_kernel="auto")
    default = mm.extract_features(mm.synthetic_media(spark, n=6))
    assert [r.feature for r in auto.collect()] == [
        r.feature for r in default.collect()
    ]


def test_multimodal_pillow_kernel_decodes_real_images(spark):
    """Runs only where Pillow exists: real PNGs decode through the
    pillow kernel (column-mean luminance), corrupt payloads fall back
    to the byte histogram, non-image modalities are untouched."""
    import pytest as _pytest

    PIL_Image = _pytest.importorskip("PIL.Image")
    import io

    from pyspark.sql import Row

    from music_streaming_data_pipeline_v2_spark.operators import multimodal as mm

    def png_bytes(shade: int) -> bytes:
        buf = io.BytesIO()
        PIL_Image.new("L", (16, 16), color=shade).save(buf, format="PNG")
        return buf.getvalue()

    media = spark.createDataFrame(
        [
            Row(media_id=1, modality="image", content=png_bytes(0), meta=None),
            Row(media_id=2, modality="image", content=png_bytes(255), meta=None),
            Row(media_id=3, modality="image", content=b"not an image", meta=None),
            Row(media_id=4, modality="audio", content=b"not an image", meta=None),
        ],
        schema=mm.MEDIA_SCHEMA,
    )
    rows = {r.media_id: r for r in mm.extract_features(media, image_kernel="pillow").collect()}
    # uniform black → all-zero luminance; uniform white → all-one
    assert rows[1].feature == [0.0] * 8
    assert rows[2].feature == [1.0] * 8
    # decode failure and non-image rows share the byte-histogram fallback
    assert rows[3].feature == rows[4].feature
    assert mm.decode_image(png_bytes(7)).size == (16, 16)


def test_ivf_partitioned_index_prunes(spark, emb, tmp_path):
    """SCALE.md claim: embeddings written partitioned by centroid_id
    give partition-pruned candidate fetches (the ANN 'index')."""
    from music_streaming_data_pipeline_v2_spark.operators.similarity import (
        assign_centroid,
        kmeans_lite,
    )

    centroids = similarity.kmeans_lite(emb, n_centroids=4, seed=3)
    path = str(tmp_path / "emb_index")
    assign_centroid(emb, centroids).write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(path)
    idx = spark.read.parquet(path)
    probe = idx.filter(F.col("centroid_id").isin([0, 2]))
    assert any("centroid_id" in f for f in scan_filters(probe).partition)
    files = {r[0] for r in probe.select(F.input_file_name()).distinct().collect()}
    assert files and all(
        "centroid_id=0" in f or "centroid_id=2" in f for f in files
    )


def test_connected_components_chain_and_singleton(spark):
    """Min-label propagation reaches the far end of a chain (multi-round
    convergence) and leaves disjoint components separate."""
    from music_streaming_data_pipeline_v2_spark.operators.clustering import (
        connected_components,
    )

    # chain 1-2-3-4-5 (diameter 4), triangle 10-11-12, isolated pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)],
        "src long, dst long",
    )
    want = {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
            (10, 10), (11, 10), (12, 10), (20, 20), (21, 20)}
    # driver union-find (default, below threshold) and distributed
    # label propagation (forced) must agree exactly
    got_driver = {
        (r["id"], r["component"])
        for r in connected_components(edges).collect()
    }
    got_dist = {
        (r["id"], r["component"])
        for r in connected_components(edges, driver_edge_threshold=0).collect()
    }
    assert got_driver == want
    assert got_dist == want


def test_dedup_clusters_exact_matches_pairwise_path(spark):
    """Identical-set contraction (dedup_clusters_exact) must produce
    byte-identical clusters to the mine-all-pairs-then-cluster path."""
    from music_streaming_data_pipeline_v2_spark.operators.clustering import (
        dedup_clusters,
        dedup_clusters_exact,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fused = {
        tuple(r) for r in dedup_clusters_exact(
            docs, "lang", "text", "doc_id", 0.8
        ).collect()
    }
    pairwise = {
        tuple(r) for r in dedup_clusters(
            docs, dedup.jaccard_pairs(docs, "lang", threshold=0.8)
        ).collect()
    }
    assert fused == pairwise


def test_dedup_clusters_auto_routes_and_matches(spark):
    """The duplication-ratio probe routes mostly-distinct corpora to
    pairwise and replica-heavy corpora to contraction — results are
    identical to the explicit paths in both branches."""
    import pyspark.sql.functions as F

    from music_streaming_data_pipeline_v2_spark.operators.clustering import (
        dedup_clusters,
        dedup_clusters_auto,
        dedup_clusters_exact,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # branch 1: ~unique corpus (ratio < 3) → must equal pairwise path
    auto = {tuple(r) for r in dedup_clusters_auto(docs).collect()}
    pairwise = {
        tuple(r) for r in dedup_clusters(
            docs, dedup.jaccard_pairs(docs, "lang", threshold=0.8)
        ).collect()
    }
    assert auto == pairwise
    # branch 2: 5× replicas (ratio ≥ 3) → must equal contraction path
    big = None
    for k in range(5):
        c = docs.withColumn("doc_id", F.col("doc_id") + F.lit(k * 1_000_000))
        big = c if big is None else big.union(c)
    auto_big = {tuple(r) for r in dedup_clusters_auto(big).collect()}
    exact_big = {
        tuple(r) for r in dedup_clusters_exact(big, "lang", "text", "doc_id", 0.8).collect()
    }
    assert auto_big == exact_big
    assert len(auto_big) == 5 * docs.count()


def test_dedup_clusters_keep_one_per_cluster(spark):
    from music_streaming_data_pipeline_v2_spark.operators.clustering import (
        dedup_clusters,
    )

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(0, 3), (3, 5)], "id_a long, id_b long")
    out = dedup_clusters(docs, pairs).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(out) == 6
    assert [by_id[i]["component"] for i in range(6)] == [0, 1, 2, 0, 4, 0]
    assert [by_id[i]["cluster_size"] for i in range(6)] == [3, 1, 1, 3, 1, 3]
    # exactly one keeper per component, the min id
    assert [by_id[i]["keep"] for i in range(6)] == [True, True, True, False, True, False]


def test_resize_images_geometry_and_passthrough(spark):
    """resize_images: aspect-preserving target geometry, non-image and
    already-small rows untouched, schema stable, map-only (kernel-
    independent metadata math — the bytes kernel fixes meta and marks
    provenance)."""
    from music_streaming_data_pipeline_v2_spark.operators.multimodal import (
        resize_images,
    )

    # n=300 so image dims reach ~315x315 — BOTH branches execute (a
    # small corpus whose dims never exceed max_dim would leave every
    # geometry assertion below dead code)
    media = synthetic_media(spark, n=300)
    # bytes kernel pinned: this test checks the METADATA geometry
    # contract on synthetic non-image payloads; the real codec kernels
    # (auto → pillow/ppm) would pass undecodable rows through untouched
    out = resize_images(media, max_dim=100, image_kernel="bytes").collect()
    src = {r.media_id: r for r in media.collect()}
    assert len(out) == 300
    n_resized = 0
    for r in out:
        s = src[r.media_id]
        if r.modality != "image":
            assert r.meta == s.meta and r.content == s.content
            continue
        w, h = s.meta.width, s.meta.height
        if max(w, h) <= 100:
            assert (r.meta.width, r.meta.height) == (w, h)
            assert not r.meta.format.endswith("+resized")
        else:
            n_resized += 1
            # long side EXACTLY max_dim; short side integer-scaled
            if w >= h:
                assert (r.meta.width, r.meta.height) == (100, max(h * 100 // w, 1))
            else:
                assert (r.meta.width, r.meta.height) == (max(w * 100 // h, 1), 100)
            assert max(r.meta.width, r.meta.height) == 100
            # aspect preserved within integer rounding
            assert abs(r.meta.width / r.meta.height - w / h) < 0.15
            assert r.meta.format.endswith("+resized")
    assert n_resized > 50  # the resize branch genuinely ran
    # determinism across runs
    again = {(r.media_id, r.meta.width, r.meta.height)
             for r in resize_images(media, max_dim=100, image_kernel="bytes").collect()}
    assert again == {(r.media_id, r.meta.width, r.meta.height) for r in out}



def test_resize_images_pillow_kernel_real_pixels(spark):
    """Runs only where Pillow exists: the pillow resize kernel re-encodes
    real pixels at the shared target geometry; decoded output dims match
    meta exactly."""
    import pytest as _pytest

    PIL_Image = _pytest.importorskip("PIL.Image")
    import io

    from pyspark.sql import Row

    from music_streaming_data_pipeline_v2_spark.operators import multimodal as mm

    buf = io.BytesIO()
    PIL_Image.new("L", (300, 150), color=128).save(buf, format="PNG")
    media = spark.createDataFrame(
        [
            Row(
                media_id=1,
                modality="image",
                content=buf.getvalue(),
                meta=Row(width=300, height=150, duration_ms=None, format="png"),
            )
        ],
        schema=mm.MEDIA_SCHEMA,
    )
    r = mm.resize_images(media, max_dim=100, image_kernel="pillow").collect()[0]
    assert (r.meta.width, r.meta.height) == (100, 50)
    img = PIL_Image.open(io.BytesIO(r.content))
    assert img.size == (100, 50)


def test_similarity_zero_norm_vectors_are_excluded_not_fatal(spark):
    """A single all-zero embedding anywhere in the corpus must not
    abort the job (ANSI divide-by-zero) — it is unrankable and drops
    out; both topk variants agree, including on ties."""
    from pyspark.sql import Row

    from music_streaming_data_pipeline_v2_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_pandas,
    )

    corpus = spark.createDataFrame(
        [
            Row(vec_id=5, embedding=[1.0, 0.0]),
            Row(vec_id=2, embedding=[1.0, 0.0]),   # exact tie with 5
            Row(vec_id=9, embedding=[0.0, 1.0]),
            Row(vec_id=7, embedding=[0.0, 0.0]),   # zero norm: excluded
        ]
    )
    queries = spark.createDataFrame([Row(query_id=0, embedding=[2.0, 0.0])])
    exact = [
        (r.rank, r.neighbor_id)
        for r in cosine_topk(corpus, queries, k=3).orderBy("rank").collect()
    ]
    # tie between 2 and 5 breaks neighbor_id ASC; zero vector absent
    assert exact == [(1, 2), (2, 5), (3, 9)]
    pandas_out = [
        (r.rank, r.neighbor_id)
        for r in cosine_topk_pandas(corpus, queries, k=3).orderBy("rank").collect()
    ]
    assert pandas_out == exact


def test_redact_terms_literal_and_empty(spark):
    """Denylist terms are literals (metacharacters don't crash or
    mis-match) and an empty denylist is a no-op, not a corpus
    shredder."""
    from pyspark.sql import Row

    from music_streaming_data_pipeline_v2_spark.operators.text import redact_terms

    df = spark.createDataFrame([Row(doc_id=1, text="i love c++ and a.b and axb")])
    r = redact_terms(df, ["c++", "a.b"]).collect()[0]
    assert r.text_redacted == "i love [REDACTED] and [REDACTED] and axb"
    assert r.n_redactions == 2
    r0 = redact_terms(df, []).collect()[0]
    assert r0.text_redacted == df.collect()[0].text and r0.n_redactions == 0


def test_sampling_null_keys_and_strata(spark):
    """Null keys split to train (never polluting test); a null stratum
    is balanced like any other instead of silently vanishing."""
    from pyspark.sql import Row

    from music_streaming_data_pipeline_v2_spark.operators.sampling import (
        balanced_sample,
        dataset_split,
    )

    split = {
        r.k: r.split
        for r in dataset_split(
            spark.createDataFrame([Row(k="x"), Row(k=None)]), "k"
        ).collect()
    }
    assert split[None] == "train"

    rows = [Row(src="s1", doc_id=i) for i in range(8)] + [
        Row(src=None, doc_id=100 + i) for i in range(4)
    ]
    out = balanced_sample(spark.createDataFrame(rows), "src", "doc_id")
    by_src = {}
    for r in out.collect():
        by_src[r.src] = by_src.get(r.src, 0) + 1
    assert None in by_src  # the null stratum survives
    assert by_src[None] >= 1 and by_src["s1"] <= 8


def test_semantic_dedup_dims_path_tolerates_ragged_vectors(spark):
    """The dims fast path must not die with INVALID_ARRAY_INDEX under
    ANSI mode when a vector is narrower than the declared width
    (ADVICE r4): ragged rows are directionless at the declared width —
    kept, never contracted, never compared — exactly like zero-norm
    rows. Well-formed rows are unaffected (dims vs HOF parity)."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.0]),   # exact dup of 0 → dropped
        (2, [1.0]),        # ragged (narrower than dims=2) → kept
        (3, [0.5]),        # ragged twin → also kept, no contraction
        (4, [0.0, 1.0]),   # well-formed, other cell → kept
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cb = [[1.0, 0.0], [0.0, 1.0]]
    out = {
        r.id: r.kept
        for r in similarity.semantic_dedup(
            df, cb, threshold=0.9, dims=2
        ).collect()
    }
    assert out == {0: True, 1: False, 2: True, 3: True, 4: True}


def test_assign_centroid_ragged_vector_lands_on_cid0(spark):
    """Width-guarded scorer: a ragged vector scores NULL against every
    centroid and resolves to cid 0 (the zero-norm landing) instead of
    raising under ANSI mode (ADVICE r4)."""
    df = spark.createDataFrame(
        [(0, [1.0]), (1, [0.0, 1.0])], "vec_id bigint, embedding array<double>"
    )
    out = {
        r.vec_id: r.centroid_id
        for r in similarity.assign_centroid(
            df, [[1.0, 0.0], [0.0, 1.0]]
        ).collect()
    }
    assert out == {0: 0, 1: 1}


def _make_p6(w, h, px):
    """Binary PPM with a comment line — exercises header parsing."""
    return b"P6\n# test\n" + f"{w} {h}\n255\n".encode() + bytes(px)


def _make_p5(w, h, px):
    return f"P5\n{w} {h}\n255\n".encode() + bytes(px)


def test_ppm_codec_roundtrip_and_rejects():
    from music_streaming_data_pipeline_v2_spark.operators.multimodal import (
        _ppm_codec,
    )

    decode, gray_resize, encode = _ppm_codec()
    px = [v % 256 for v in range(4 * 2 * 3)]
    d = decode(_make_p6(4, 2, px))
    assert d is not None and d[0] == "P6" and (d[1], d[2]) == (4, 2)
    assert decode(encode(*d[:3], d[3])) == ("P6", 4, 2, bytes(px))
    # grayscale via integer BT.601: a pure-red pixel → 299*255//1000
    red = decode(_make_p6(1, 1, [255, 0, 0]))
    assert gray_resize(red, 1, 1) == [[(299 * 255) // 1000]]
    # rejects: wrong magic, truncated raster, 16-bit maxval, junk header
    assert decode(b"BM\x00\x00") is None
    assert decode(b"P6\n4 2\n255\n\x00\x00") is None
    assert decode(b"P6\n1 1\n65535\n" + b"\x00" * 6) is None
    assert decode(b"P6\nx y\n255\n") is None


def test_extract_features_ppm_kernel_decodes_without_pillow(spark):
    """The vendored stdlib codec gives this container a REAL
    decode→grayscale→resize path (VERDICT r4 #7): a uniform-gray P6
    payload must produce a uniform luminance vector, not its byte
    histogram; non-PPM payloads fall back to the byte histogram."""
    from music_streaming_data_pipeline_v2_spark.operators import multimodal as mm
    from pyspark.sql import functions as F

    w, h = 6, 4
    gray_ppm = _make_p6(w, h, [120] * (w * h * 3))
    junk = b"not an image at all"
    media = spark.createDataFrame(
        [(0, "image", bytearray(gray_ppm), (w, h, None, "ppm")),
         (1, "image", bytearray(junk), (3, 3, None, "bin")),
         (2, "audio", bytearray(junk), (None, None, 100, "wav"))],
        mm.MEDIA_SCHEMA,
    )
    out = {r.media_id: r for r in mm.extract_features(media, image_kernel="ppm").collect()}
    lum = (299 * 120 + 587 * 120 + 114 * 120) // 1000 / 255.0
    assert all(abs(v - round(lum, 6)) < 1e-6 for v in out[0].feature)
    # junk image and audio both land on the byte histogram of their bytes
    from music_streaming_data_pipeline_v2_spark.operators.multimodal import (
        fake_image_features,
    )
    # FloatType storage: compare at float32 precision
    want = fake_image_features(junk)
    for mid in (1, 2):
        assert all(abs(a - b) < 1e-6 for a, b in zip(out[mid].feature, want))
    # 'auto' in this Pillow-less container takes the same path
    assert not mm.pillow_available()
    auto = {r.media_id: r.feature
            for r in mm.extract_features(media, image_kernel="auto").collect()}
    assert auto == {k: r.feature for k, r in out.items()}


def test_resize_images_ppm_kernel_real_pixels(spark):
    """resize_images under the stdlib codec: the payload really is
    re-encoded at the target geometry (decode of the output matches
    meta), P5 stays grayscale, non-PPM payloads pass untouched."""
    from music_streaming_data_pipeline_v2_spark.operators import multimodal as mm

    w, h = 160, 120
    big_p6 = _make_p6(w, h, [(i % 3) * 100 for i in range(w * h * 3)])
    big_p5 = _make_p5(w, h, [i % 256 for i in range(w * h)])
    junk = b"payload that is no ppm"
    media = spark.createDataFrame(
        [(0, "image", bytearray(big_p6), (w, h, None, "ppm")),
         (1, "image", bytearray(big_p5), (w, h, None, "pgm")),
         (2, "image", bytearray(junk), (w, h, None, "bin"))],
        mm.MEDIA_SCHEMA,
    )
    out = {r.media_id: r
           for r in mm.resize_images(media, max_dim=100, image_kernel="ppm").collect()}
    decode, _gr, _enc = mm._ppm_codec()
    for mid, magic, fmt in [(0, "P6", "ppm+resized"), (1, "P5", "pgm+resized")]:
        r = out[mid]
        assert (r.meta.width, r.meta.height) == (100, 75)
        assert r.meta.format == fmt
        d = decode(bytes(r.content))
        assert d is not None and (d[0], d[1], d[2]) == (magic, 100, 75)
    # undecodable: row completely untouched (content AND meta)
    assert bytes(out[2].content) == junk
    assert out[2].meta.format == "bin" and out[2].meta.width == w


def test_ppm_kernel_16bit_pgm_takes_fallback_path(spark):
    """maxval>255 pin (VERDICT r5 #9): a well-formed 16-bit P5 payload
    (maxval 65535, 2 bytes/pixel raster) is OUTSIDE the codec's 8-bit
    contract — it must flow down the undecodable-fallback path of BOTH
    Spark kernels (byte-histogram features; resize passes the row
    through untouched), never a silent mis-decode that reads the
    2-byte raster as 1-byte pixels."""
    from music_streaming_data_pipeline_v2_spark.operators import (
        multimodal as mm,
    )
    from music_streaming_data_pipeline_v2_spark.operators.multimodal import (
        fake_image_features,
    )

    w, h = 8, 4
    raster = bytes(
        b for i in range(w * h) for b in ((i * 97) % 256, (i * 31) % 256)
    )
    p5_16 = f"P5\n{w} {h}\n65535\n".encode() + raster
    decode, _gr, _enc = mm._ppm_codec()
    assert decode(p5_16) is None  # the codec-level reject
    media = spark.createDataFrame(
        [(0, "image", bytearray(p5_16), (w, h, None, "pgm"))],
        mm.MEDIA_SCHEMA,
    )
    feat = mm.extract_features(media, image_kernel="ppm").first()
    want = fake_image_features(p5_16)
    assert all(abs(a - b) < 1e-6 for a, b in zip(feat.feature, want))
    resized = mm.resize_images(media, max_dim=4, image_kernel="ppm").first()
    assert bytes(resized.content) == p5_16
    assert resized.meta.format == "pgm" and resized.meta.width == w


# ---------------------------------------------------------------------------
# flat (codegen) vector scoring ≡ interpreted HOF scoring — the dims
# fast path added in the round-9 optimization must be bit-identical to
# the higher-order-fold slow path (dot_sql's left-associated IEEE
# argument), not merely approximately equal
# ---------------------------------------------------------------------------


def test_cosine_topk_dims_flat_path_bit_identical(emb):
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    slow = similarity.cosine_topk(emb, queries, k=10).collect()
    fast = similarity.cosine_topk(emb, queries, k=10, dims=8).collect()
    key = lambda r: (r.query_id, r.rank)
    # exact float equality on the cosine — same summation order
    assert {key(r): (r.neighbor_id, r.cosine) for r in slow} == {
        key(r): (r.neighbor_id, r.cosine) for r in fast
    }


def test_ivf_topk_dims_flat_path_bit_identical(emb):
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids = similarity.kmeans_lite(emb, n_centroids=4, seed=7)
    slow = similarity.ivf_topk(emb, queries, centroids, k=5, nprobe=2).collect()
    fast = similarity.ivf_topk(
        emb, queries, centroids, k=5, nprobe=2, dims=8
    ).collect()
    key = lambda r: (r.query_id, r.rank)
    assert {key(r): (r.neighbor_id, r.cosine) for r in slow} == {
        key(r): (r.neighbor_id, r.cosine) for r in fast
    }


def test_mmr_rerank_dims_flat_path_identical(emb):
    from music_streaming_data_pipeline_v2_spark.operators.retrieval import (
        mmr_rerank,
    )

    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    slow = mmr_rerank(emb, queries, k_candidates=8, k_select=4).collect()
    fast = mmr_rerank(
        emb, queries, k_candidates=8, k_select=4, dims=8
    ).collect()
    key = lambda r: (r.query_id, r.step)
    assert {key(r): (r.vec_id, r.relevance, r.mmr_score) for r in slow} == {
        key(r): (r.vec_id, r.relevance, r.mmr_score) for r in fast
    }
