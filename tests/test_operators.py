"""Deterministic tests for the training-data operators."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from assetdatavalidationtool_spark.operators import (
    brute_force_cosine_topk,
    embedding_norms,
    exact_duplicates,
    fingerprint,
    language_id,
    lsh_buckets,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    quality_score,
    shingle,
    simhash,
    token_stats,
)
from assetdatavalidationtool_spark.operators.similarity import hyperplanes, lsh_ann_topk


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
        (2, "The  quick brown fox jumps over the lazy dog"),  # ws/case dup of 0
        (3, "completely different text about spark shuffles and joins"),
        (4, "el perro que corre por la calle de la ciudad"),
        (5, "numbers 123 456 789 and punctuation !!! ??? ..."),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_duplicates(docs):
    got = exact_duplicates(docs, "doc_id", "text").collect()
    assert len(got) == 1
    assert got[0]["n_docs"] == 2
    assert (got[0]["min_doc_id"], got[0]["max_doc_id"]) == (0, 2)


def test_shingles_counts(docs):
    sh = shingle(docs.where("doc_id = 0"), "doc_id", "text", n=3).collect()
    # 9 tokens → 7 trigrams, all distinct
    assert len(sh) == 7
    assert all(len(s["shingle"].split(" ")) == 3 for s in sh)


def test_ngram_jaccard_ranks_near_dups(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.1, max_shingle_df=None
        ).collect()
    }
    assert pairs[(0, 2)] == 1.0          # exact after normalization
    assert 0.4 <= pairs[(0, 1)] < 1.0    # near-dup
    assert (0, 3) not in pairs           # unrelated


def test_minhash_identical_docs_same_signature(docs):
    sig = {
        r["doc_id"]: (r["mh_0"], r["mh_1"], r["mh_2"], r["mh_3"])
        for r in minhash_signatures(docs, "doc_id", "text", num_hashes=4).collect()
    }
    assert sig[0] == sig[2]
    assert sig[0] != sig[3]


def test_minhash_lsh_candidates_include_near_dups(docs):
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates(
            docs, "doc_id", "text", num_hashes=8, bands=4, max_bucket_size=None
        ).collect()
    }
    assert (0, 2) in cands  # identical normalized docs always collide
    # unrelated docs should not appear (tiny corpus, random collision ~0)
    assert (3, 4) not in cands


def test_simhash_similarity_ordering(docs):
    sh = {r["doc_id"]: r["simhash"] for r in simhash(docs, "doc_id", "text").collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert sh[0] == sh[2]
    assert ham(sh[0], sh[1]) < ham(sh[0], sh[3])


def test_token_stats_and_quality(docs):
    ts = {r["doc_id"]: r for r in token_stats(docs, "doc_id", "text").collect()}
    assert ts[0]["n_tokens"] == 9
    # 6 alnum runs + 1 maximal punct run ("!!! ??? ..." incl. spaces)
    assert ts[5]["n_bpe_pieces"] == 7
    q = {r["doc_id"]: r for r in quality_score(docs, "doc_id", "text").collect()}
    assert q[5]["digit_ratio"] > 0 and q[5]["punct_ratio"] > 0
    assert q[0]["quality"] > q[5]["quality"]


def test_language_id(docs):
    got = {r["doc_id"]: r["pred_lang"] for r in language_id(docs, "doc_id", "text").collect()}
    assert got[0] == "en"
    assert got[4] == "es"


def test_fingerprint_normalization(docs):
    fp = {r["doc_id"]: r["fingerprint"] for r in fingerprint(docs, "doc_id", "text").collect()}
    assert fp[0] == fp[2]
    assert fp[0] != fp[1]


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(7)
    base = rng.randn(20, 8).astype(np.float32)
    base[1] = base[0] + 0.01 * rng.randn(8).astype(np.float32)  # near 0
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache(),
        base,
    )


def test_brute_force_topk_matches_numpy(vectors):
    df, base = vectors
    got = brute_force_cosine_topk(df, "vec_id", "embedding", [0], k=3).collect()
    b = base.astype(np.float64)
    sims = (b @ b[0]) / (np.linalg.norm(b, axis=1) * np.linalg.norm(b[0]))
    sims[0] = -np.inf
    expect = list(np.argsort(-sims)[:3])
    assert [r["neighbor_id"] for r in got] == expect
    assert got[0]["neighbor_id"] == 1  # the planted near-neighbor
    np.testing.assert_allclose(
        [r["cosine"] for r in got], sorted(sims, reverse=True)[:3], atol=1e-4
    )


def test_lsh_ann_finds_planted_neighbor(vectors):
    df, base = vectors
    planes = hyperplanes(8, 3, seed=1)
    buckets = {r["vec_id"]: r["bucket"] for r in lsh_buckets(df, "vec_id", "embedding", planes).collect()}
    assert buckets[0] == buckets[1]  # near-identical vectors share every sign
    ann = lsh_ann_topk(df, "vec_id", "embedding", planes, k=3).collect()
    top_for_0 = [r for r in ann if r["query_id"] == 0]
    assert top_for_0 and top_for_0[0]["neighbor_id"] == 1


def test_embedding_norms(vectors):
    df, base = vectors
    got = {r["vec_id"]: r for r in embedding_norms(df, "vec_id", "embedding").collect()}
    assert got[0]["dim"] == 8
    np.testing.assert_allclose(
        got[0]["l2_norm"], np.linalg.norm(base[0].astype(np.float64)), atol=1e-3
    )


def test_ivf_topk_finds_planted_neighbor(vectors):
    from assetdatavalidationtool_spark.operators.similarity import (
        ivf_centroids,
        ivf_topk,
    )

    df, base = vectors
    cents = ivf_centroids(8, 3, seed=2)
    got = ivf_topk(df, "vec_id", "embedding", cents, k=3).collect()
    top_for_0 = [r for r in got if r["query_id"] == 0]
    # near-identical vectors land in the same cell → neighbor found
    assert top_for_0 and top_for_0[0]["neighbor_id"] == 1
    # every rank sequence is 1..k without gaps
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(ranks == list(range(1, len(ranks) + 1)) for ranks in map(sorted, by_q.values()))


def test_multimodal_image_features_and_resize(spark):
    from assetdatavalidationtool_spark.datagen import generate_images
    from assetdatavalidationtool_spark.operators.multimodal import (
        image_features,
        resize_images,
    )

    imgs = generate_images(spark, 12, partitions=2).cache()
    feats = {r["image_id"]: r for r in image_features(imgs).collect()}
    assert len(feats) == 12 and all(r["decode_ok"] for r in feats.values())
    # decoded dims equal declared dims
    declared = {r["image_id"]: (r["w"], r["h"]) for r in imgs.select("image_id", "w", "h").collect()}
    for iid, r in feats.items():
        assert (r["decoded_w"], r["decoded_h"]) == declared[iid]
        assert 0 <= r["mean_r"] <= 255 and r["contrast"] > 0

    resized = resize_images(imgs.limit(3), 32, 32).collect()
    from assetdatavalidationtool_spark.codecs import decode_image
    for r in resized:
        out = decode_image(bytes(r["bytes"]), r["fmt"])
        assert out.shape == (32, 32, 3)

    # corrupt bytes → decode_ok False, no crash
    from pyspark.sql import functions as F
    bad = imgs.limit(2).withColumn("bytes", F.lit(b"not an image"))
    got = image_features(bad).collect()
    assert all(not r["decode_ok"] for r in got)


def test_video_frame_sampling_y4m(spark):
    """Real end-to-end video path: synthesize Y4M clips, sample every
    n-th frame in the Arrow batch UDF, verify the PLANTED moving-square
    frames come back (PSNR > 40 dB vs the rendered reference — the Y4M
    C444 round trip is +/-1 per channel); corrupt payloads degrade to
    decode_ok=False per row, not a job failure."""
    import numpy as np

    from assetdatavalidationtool_spark.codecs import decode_image
    from assetdatavalidationtool_spark.datagen import make_video_row, render_video
    from assetdatavalidationtool_spark.operators.multimodal import sample_video_frames

    rows = [make_video_row(i, n_frames=9) for i in range(3)]
    rows.append(make_video_row(3, n_frames=9, subsampling="420"))
    rows.append({"video_id": "video_bad", "bytes": b"not a video",
                 "n_frames": 0, "fps": 0})
    vids = spark.createDataFrame(
        rows, "video_id string, bytes binary, n_frames int, fps int"
    )
    got = sample_video_frames(vids, every_n=4).collect()
    by_vid = {}
    for r in got:
        by_vid.setdefault(r["video_id"], []).append(r)

    bad = by_vid["video_bad"]
    assert len(bad) == 1 and bad[0]["decode_ok"] is False and bad[0]["frame_idx"] == -1

    for i in (0, 1, 2, 3):
        vid = f"video_{i:09d}"
        rs = sorted(by_vid[vid], key=lambda r: r["frame_idx"])
        assert [r["frame_idx"] for r in rs] == [0, 4, 8]   # every 4th of 9
        assert all(r["n_frames"] == 9 and r["fps"] == 30 and r["decode_ok"] for r in rs)
        ref = render_video(vid, 9).astype(np.float64)
        for r in rs:
            frame = decode_image(bytes(r["frame_bytes"]), "png").astype(np.float64)
            mse = ((frame - ref[r["frame_idx"]]) ** 2).mean()
            psnr = 10 * np.log10(255.0 ** 2 / mse) if mse else 99.0
            # C444 round trip is near-lossless; C420 chroma is averaged
            assert psnr > (40.0 if i < 3 else 25.0)


def test_audio_features_wav(spark):
    """Real end-to-end audio path: synthesize WAV clips, decode in the
    Arrow batch UDF, check features against driver-side numpy; non-WAV
    payloads degrade to decode_ok=False per row (not a job failure)."""
    import numpy as np

    from assetdatavalidationtool_spark.datagen import make_audio_row, render_audio
    from assetdatavalidationtool_spark.operators.multimodal import audio_features

    rows = [make_audio_row(i, n_samples=4000) for i in range(6)]
    rows.append({"clip_id": "clip_bad", "bytes": b"not audio",
                 "sample_rate": 0, "n_samples": 0})
    corrupt = make_audio_row(99, n_samples=4000, corrupt=True)
    rows.append(corrupt)
    clips = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sample_rate int, n_samples int"
    )
    got = {r["clip_id"]: r for r in audio_features(clips).collect()}
    assert len(got) == 8
    assert got["clip_bad"]["decode_ok"] is False and got["clip_bad"]["rms"] is None

    # negative-rail clipping: the 4x-amplified corrupt clip saturates at
    # BOTH rails; int16 abs wraps -32768 back to -32768, so the widened
    # abs is what lets the detector see the negative rail at all.
    s99 = (render_audio("clip_000000099", 4000).astype(np.int32) * 4).clip(-32768, 32767)
    a99 = np.abs(s99)
    expect_clip = round(float(np.mean(a99 >= 32767)), 6)
    r99 = got["clip_000000099"]
    assert (s99 == -32768).any(), "fixture must actually hit the negative rail"
    assert r99["clip_frac"] == expect_clip and expect_clip > 0.0
    assert r99["peak"] == int(a99.max()) == 32768

    s = render_audio("clip_000000003", 4000).astype(np.float64)
    expect_rms = round(float(np.sqrt(np.mean(s * s))), 4)
    r3 = got["clip_000000003"]
    assert r3["decode_ok"] and r3["n_samples"] == 4000
    assert r3["sample_rate"] == 16000 and abs(r3["duration_sec"] - 0.25) < 1e-9
    assert abs(r3["rms"] - expect_rms) < 1e-6
    assert 0.0 < r3["zero_cross_rate"] < 0.5 and r3["clip_frac"] == 0.0

def test_ivf_hot_cell_guard_drops_mega_cell(vectors, spark):
    """A planted hot cluster (30 identical vectors in one cell) must be
    excluded from the candidate side when max_cell_size caps it — the
    Σ|cell|² pair join is the 100 TB scale-killer — while neighbors in
    healthy cells keep being found."""
    from assetdatavalidationtool_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        ivf_topk,
    )

    df, base = vectors
    cents = ivf_centroids(8, 3, seed=2)
    cells = {r["vec_id"]: r["cell"] for r in ivf_assign(df, "vec_id", "embedding", cents).collect()}
    # donor: a base vector in a different cell from the planted pair (0, 1)
    donor = next(i for i in range(2, 20) if cells[i] != cells[0])
    hot_ids = list(range(100, 130))
    hot_rows = [(i, [float(x) for x in base[donor]]) for i in hot_ids]
    big = df.unionByName(
        spark.createDataFrame(hot_rows, "vec_id long, embedding array<float>")
    )

    uncapped = ivf_topk(big, "vec_id", "embedding", cents, k=3).collect()
    assert any(r["neighbor_id"] in hot_ids for r in uncapped)

    capped = ivf_topk(big, "vec_id", "embedding", cents, k=3, max_cell_size=10)
    rows = capped.collect()
    assert not any(r["neighbor_id"] in hot_ids for r in rows)
    # the pair 0↔1 lives in a healthy cell and is still found
    top_for_0 = [r for r in rows if r["query_id"] == 0]
    assert top_for_0 and top_for_0[0]["neighbor_id"] == 1
    # the guard is a broadcast anti-join in the plan
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan


def test_lsh_ann_hot_bucket_guard(vectors, spark):
    from assetdatavalidationtool_spark.operators.similarity import lsh_buckets

    df, base = vectors
    planes = hyperplanes(8, 3, seed=1)
    buckets = {r["vec_id"]: r["bucket"] for r in lsh_buckets(df, "vec_id", "embedding", planes).collect()}
    donor = next(i for i in range(2, 20) if buckets[i] != buckets[0])
    hot_ids = list(range(100, 130))
    hot_rows = [(i, [float(x) for x in base[donor]]) for i in hot_ids]
    big = df.unionByName(
        spark.createDataFrame(hot_rows, "vec_id long, embedding array<float>")
    )
    uncapped = lsh_ann_topk(big, "vec_id", "embedding", planes, k=3, max_bucket_size=None).collect()
    assert any(r["neighbor_id"] in hot_ids for r in uncapped)
    rows = lsh_ann_topk(big, "vec_id", "embedding", planes, k=3, max_bucket_size=10).collect()
    assert not any(r["neighbor_id"] in hot_ids for r in rows)
    top_for_0 = [r for r in rows if r["query_id"] == 0]
    assert top_for_0 and top_for_0[0]["neighbor_id"] == 1


def test_ivf_multi_probe_recovers_boundary_neighbor(spark):
    """A neighbor just across a cell boundary is invisible at n_probe=1
    and found at n_probe=2 — the recall lever multi-probe exists for."""
    from assetdatavalidationtool_spark.operators.similarity import ivf_topk

    dim = 8
    cents = [[0.0] * dim for _ in range(4)]
    for i in range(4):
        cents[i][i] = 1.0  # orthogonal unit centroids
    q = [0.0] * dim
    q[0], q[1] = 0.8, 0.6       # cell 0; second-nearest cell 1
    n = [0.0] * dim
    n[0], n[1] = 0.6, 0.8       # cell 1; cosine(q, n) = 0.96
    fill0 = [0.0] * dim
    fill0[0] = 1.0              # cell 0; cosine(q, fill0) = 0.8
    fill2 = [0.0] * dim
    fill2[2] = 1.0
    rows = [(0, q), (1, n), (2, fill0), (3, fill2)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    single = ivf_topk(df, "vec_id", "embedding", cents, k=3, n_probe=1, query_ids=[0]).collect()
    assert [r["neighbor_id"] for r in single] == [2]  # boundary neighbor missed

    multi = ivf_topk(df, "vec_id", "embedding", cents, k=3, n_probe=2, query_ids=[0]).collect()
    assert [r["neighbor_id"] for r in multi][0] == 1  # found and ranked first
    assert abs(multi[0]["cosine"] - 0.96) < 1e-3


def test_train_ivf_centroids_recovers_clusters(spark):
    """Spherical k-means on two well-separated clusters converges to the
    cluster directions, deterministically, and improves assignment purity
    over the seeded-random initialization."""
    from assetdatavalidationtool_spark.operators.similarity import (
        ivf_assign,
        train_ivf_centroids,
    )

    rng = np.random.RandomState(3)
    dim = 8
    c_a = np.array([1.0, 0, 0, 0, 0, 0, 0, 0])
    c_b = np.array([0, 1.0, 0, 0, 0, 0, 0, 0])
    rows = []
    for i in range(40):
        center = c_a if i % 2 == 0 else c_b
        v = center + 0.05 * rng.randn(dim)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()

    trained = train_ivf_centroids(df, "embedding", n_cells=2, dim=dim, n_iters=4, seed=5)
    again = train_ivf_centroids(df, "embedding", n_cells=2, dim=dim, n_iters=4, seed=5)
    assert trained == again  # deterministic

    t = np.array(trained)
    # each cluster direction is captured by some trained centroid
    assert max(abs(t @ c_a)) > 0.95
    assert max(abs(t @ c_b)) > 0.95
    # assignment separates the clusters perfectly
    cells = {r["vec_id"]: r["cell"] for r in ivf_assign(df, "vec_id", "embedding", trained).collect()}
    a_cells = {cells[i] for i in range(0, 40, 2)}
    b_cells = {cells[i] for i in range(1, 40, 2)}
    assert len(a_cells) == 1 and len(b_cells) == 1 and a_cells != b_cells


def test_embedding_near_duplicates(vectors, spark):
    """Planted near-identical pair found; unrelated pairs stay below
    threshold; multi-table union beats a single table's recall misses."""
    from assetdatavalidationtool_spark.operators.similarity import (
        embedding_near_duplicates,
    )

    df, base = vectors
    tables = [hyperplanes(8, 4, seed=s) for s in (1, 2)]
    got = embedding_near_duplicates(
        df, "vec_id", "embedding", tables, threshold=0.95
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    assert (0, 1) in pairs  # the planted near-neighbor pair
    assert all(r["cosine"] >= 0.95 for r in got)
    # hot-bucket guard: cap of 1 drops every bucket with >1 member → no pairs
    none = embedding_near_duplicates(
        df, "vec_id", "embedding", tables, threshold=0.95, max_bucket_size=1
    ).collect()
    assert none == []


def test_ivf_assign_join_matches_literal_path(spark):
    """Centroids-as-data assignment (broadcast join + constant-size
    fold): identical to the literal-expression path at a small
    quantizer (exact tie semantics included), and correct vs numpy
    argmax at 256 cells x dim 64 — a size where the literal path's
    O(n_cells x dim) expression plan already takes minutes just to
    analyze (the reason this path exists)."""
    import numpy as np

    from assetdatavalidationtool_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_join,
        ivf_centroids,
        _cell_expr,
    )

    # exact parity with the literal path (incl. tie-break) at 16 cells
    dim = 8
    cents_s = ivf_centroids(dim, 16, seed=5)
    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.randn(dim)]) for i in range(80)]
    # planted exact tie: vec 80 is equidistant from two centroid copies
    cents_s[7] = list(cents_s[2])
    small = spark.createDataFrame(
        rows + [(80, [float(x) for x in cents_s[2]])],
        "vec_id long, embedding array<float>",
    ).cache()
    joined_s = {r["vec_id"]: r["cell"]
                for r in ivf_assign_join(small, "vec_id", "embedding", cents_s).collect()}
    literal_s = {r["vec_id"]: r["cell"]
                 for r in small.select(
                     "vec_id", _cell_expr("embedding", cents_s).alias("cell")).collect()}
    assert joined_s == literal_s and joined_s[80] == 2  # tie -> lowest cell

    # 256-cell quantizer: correct vs driver-side numpy argmax
    dim, n_cells, n_vecs = 64, 256, 300
    cents = ivf_centroids(dim, n_cells, seed=11)
    base = np.array([rng.randn(dim) for _ in range(n_vecs)])
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(n_vecs)],
        "vec_id long, embedding array<float>",
    ).cache()
    expect = np.argmax(base @ np.array(cents).T, axis=1)
    joined = {r["vec_id"]: r["cell"]
              for r in ivf_assign_join(df, "vec_id", "embedding", cents).collect()}
    assert joined == {i: int(expect[i]) for i in range(n_vecs)}
    assert len(set(joined.values())) > 100  # spread over many cells

    # plan shape: the centroid attach is a broadcast (one-row build
    # side -> BroadcastNestedLoopJoin BuildRight, the broadcast
    # hash-attach degenerate case) and the VECTOR side is never
    # shuffled — the only exchanges are the tiny centroid-side
    # SinglePartition collect and its broadcast
    out = ivf_assign_join(df, "vec_id", "embedding", cents)
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin BuildRight" in final
    assert "BroadcastExchange" in final
    assert "Exchange hashpartitioning" not in final

    # ivf_assign auto-routes large quantizers to the join path
    auto = {r["vec_id"]: r["cell"]
            for r in ivf_assign(df, "vec_id", "embedding", cents).collect()}
    assert auto == joined


def test_train_ivf_large_quantizer_uses_join_path(spark):
    """train_ivf_centroids at n_cells>64 routes assignment through the
    broadcast-join path; result matches a driver-side numpy Lloyd
    iteration (same assign/avg/renormalize/round-6 semantics)."""
    import numpy as np

    from assetdatavalidationtool_spark.operators.similarity import (
        ivf_centroids,
        train_ivf_centroids,
    )

    dim, n_cells, n_vecs = 8, 80, 120
    rng = np.random.RandomState(9)
    base = rng.randn(n_vecs, dim)
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(n_vecs)],
        "vec_id long, embedding array<float>",
    )
    got = train_ivf_centroids(df, "embedding", n_cells, dim, n_iters=1, seed=4)

    cents = np.array(ivf_centroids(dim, n_cells, seed=4))
    assign = np.argmax(base.astype(np.float32).astype(np.float64) @ cents.T, axis=1)
    expect = cents.copy()
    for c in set(assign):
        m = base[assign == c].mean(axis=0)
        nrm = np.linalg.norm(m) or 1.0
        expect[c] = np.round(m / nrm, 6)
    np.testing.assert_allclose(np.array(got), expect, atol=2e-6)


def test_spread_small_scan_uses_plan_stats_not_rdd(spark, tmp_path):
    """A small single-row-group parquet scan is repartitioned up to
    defaultParallelism; a table whose Catalyst size estimate spans
    >= cores partitions is returned UNTOUCHED (no shuffle added, and no
    df.rdd plan->RDD round trip — the estimate comes from plan stats)."""
    from assetdatavalidationtool_spark.operators.dedup import spread_small_scan

    p = str(tmp_path / "small")
    spark.range(0, 1000).selectExpr("id", "repeat('x', 10) AS t").coalesce(
        1
    ).write.parquet(p)
    small = spark.read.parquet(p)
    out = spread_small_scan(small)
    assert "Exchange" in out._jdf.queryExecution().executedPlan().toString()
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    # a large-estimate input (maxPartitionBytes shrunk so the same file
    # counts as many splits) must pass through with no added exchange
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "128")
        big_est = spark.read.parquet(p)
        out2 = spread_small_scan(big_est)
        assert out2 is big_est
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_ivf_topk_large_quantizer_join_path(spark):
    """ivf_topk at n_cells>64 routes corpus assignment AND probe
    selection through the broadcast-data path; probe_cells matches the
    literal _probe_cells_expr semantics (verified via numpy: top-P
    cells by dot desc, ties to lower cell), and the top-k result ranks
    a planted near-duplicate first."""
    import numpy as np

    from assetdatavalidationtool_spark.operators.similarity import (
        attach_probe_cells,
        ivf_centroids,
        ivf_topk,
    )

    dim, n_cells, n_vecs = 16, 96, 150
    cents = ivf_centroids(dim, n_cells, seed=21)
    rng = np.random.RandomState(13)
    base = rng.randn(n_vecs, dim)
    base[1] = base[0] + 0.001 * rng.randn(dim)  # planted near-dup of 0
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(n_vecs)],
        "vec_id long, embedding array<float>",
    ).cache()

    # probe selection parity vs numpy
    got = {r["vec_id"]: list(r["probe_cells"])
           for r in attach_probe_cells(df, "embedding", cents, 3).collect()}
    dots = base.astype(np.float32).astype(np.float64) @ np.array(cents).T
    for i in range(n_vecs):
        order = sorted(range(n_cells), key=lambda c: (-dots[i][c], c))[:3]
        assert got[i] == order

    topk = ivf_topk(df, "vec_id", "embedding", cents, k=3, n_probe=3,
                    query_ids=[0]).collect()
    assert topk and topk[0]["neighbor_id"] == 1 and topk[0]["rank"] == 1

    # no vector-side shuffle beyond the cell equi-join itself: the
    # centroid attach on both sides is broadcast
    out = ivf_topk(df, "vec_id", "embedding", cents, k=3, n_probe=2)
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString()
    assert final.count("BroadcastNestedLoopJoin") >= 2  # corpus + probes


# ---------------------------------------------------------------------------
# dedup clustering: pairs → connected components → canonical docs
# ---------------------------------------------------------------------------


def test_connected_components_merges_chains(spark):
    # two components: {1,2,3,4} via a chain (forces >1 propagation
    # round) and {10, 11}; 4 appears only on the dst side
    pairs = spark.createDataFrame(
        [(3, 4), (2, 3), (1, 2), (10, 11)], "doc_a long, doc_b long"
    )
    from assetdatavalidationtool_spark.operators import connected_components

    got = {r["doc_id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges(spark):
    """A planted 60-hop chain (diameter far beyond the old 25-iteration
    propagation cap) must converge — the large-star contraction rounds
    halve the diameter per round, so the label loop sees a shallow
    graph — with labels identical to min-member semantics. Shuffled
    pair order and both-side-only nodes are covered by construction."""
    from assetdatavalidationtool_spark.operators import connected_components

    chain = [(i, i + 1) for i in range(100, 160)]  # 61 nodes, 60 hops
    extra = [(500, 501), (502, 501)]  # second component, dst-side hub
    pairs = spark.createDataFrame(chain[::-1] + extra, "doc_a long, doc_b long")
    want = {i: 100 for i in range(100, 161)}
    want.update({500: 500, 501: 500, 502: 500})
    got = {r["doc_id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert got == want
    # driver finish disabled: the lazy-contraction + label-loop path
    # (the shape this test existed for) must still converge on its own
    dist = {r["doc_id"]: r["cluster_id"]
            for r in connected_components(
                pairs, driver_finish_max_pairs=0).collect()}
    assert dist == want


def test_connected_components_deep_clique_chain_distributed(spark):
    """A small-but-deep clique chain that blows a tiny driver budget
    must converge on the distributed path alone (label loop → lazy
    contraction at round 8 → label loop on the contracted graph)."""
    from assetdatavalidationtool_spark.operators import connected_components

    rows = []
    for c in range(20):  # 20 10-cliques bridged into one 40-hop chain
        base = c * 10
        rows += [(base + i, base + j) for i in range(10) for j in range(i + 1, 10)]
        if c:
            rows.append((base - 1, base))
    pairs = spark.createDataFrame(rows, "doc_a long, doc_b long")
    got = {r["doc_id"]: r["cluster_id"]
           for r in connected_components(
               pairs, driver_finish_max_pairs=460).collect()}
    assert got == {n: 0 for n in range(200)}


def test_connected_components_fast_path_matches_small_path(spark):
    """contract_min_edges=0 forces the immediate-contraction fast path
    (round 1 computed straight off the canonical pair table) on a
    fixture that also covers reversed pairs, duplicates, self-loops
    and a chain — labels must equal the small-path propagation's."""
    from assetdatavalidationtool_spark.operators import connected_components

    rows = [(3, 4), (2, 3), (1, 2), (10, 11), (9, 8), (9, 8), (7, 7),
            (20, 21), (22, 21)]
    pairs = spark.createDataFrame(rows, "doc_a long, doc_b long")
    fast = {r["doc_id"]: r["cluster_id"]
            for r in connected_components(pairs, contract_min_edges=0).collect()}
    slow = {r["doc_id"]: r["cluster_id"]
            for r in connected_components(pairs).collect()}
    assert fast == slow
    assert fast[4] == 1 and fast[8] == 8 and fast[7] == 7 and fast[22] == 20


def test_connected_components_duplicate_and_self_pairs(spark):
    """Duplicate pair rows and self-loops must not change labels: the
    r6 edge build drops the distinct (propagation is idempotent over
    duplicates) and contraction discards self-loops, but every original
    node must keep a label."""
    from assetdatavalidationtool_spark.operators import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 3), (7, 7), (9, 8)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 8, 9: 8}

    from assetdatavalidationtool_spark.operators import connected_components

    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(pairs).count() == 0


def test_connected_components_leaves_no_cached_rdds(spark):
    # the iterative loop persists per-iteration label tables; all of
    # them must be unpersisted by return (the ruleset_verdicts leak
    # class from the round-4 advice)
    from assetdatavalidationtool_spark.operators import connected_components

    spark.catalog.clearCache()
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    connected_components(pairs).collect()
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getPersistentRDDs().size() == 0


def test_canonical_docs_keeps_longest_then_smallest_id(spark):
    from assetdatavalidationtool_spark.operators import (
        canonical_docs,
        connected_components,
    )

    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long")
    clusters = connected_components(pairs)
    docs = spark.createDataFrame(
        [(1, 100), (2, 300), (3, 300), (10, 50), (11, 40)],
        "doc_id long, n_chars long",
    )
    got = {
        r["cluster_id"]: (r["kept_doc_id"], r["kept_n_chars"], r["n_members"])
        for r in canonical_docs(clusters, docs, "doc_id", "n_chars").collect()
    }
    # cluster 1: docs 2 and 3 tie on n_chars=300 → smaller id 2 wins
    assert got == {1: (2, 300, 3), 10: (10, 50, 2)}


def test_hash_sample_deterministic_and_partition_invariant(spark):
    from assetdatavalidationtool_spark.operators import hash_sample

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = sorted(r["doc_id"] for r in hash_sample(df, "doc_id", 10).collect())
    b = sorted(
        r["doc_id"]
        for r in hash_sample(df.repartition(7), "doc_id", 10).collect()
    )
    assert a == b and len(a) > 0
    # roughly 1/10 (binomial tolerance)
    assert 120 < len(a) < 280


def test_stratified_hash_sample_rates(spark):
    from assetdatavalidationtool_spark.operators import stratified_hash_sample

    df = spark.range(0, 4000).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 4 = 0 THEN 'en' WHEN id % 4 = 1 THEN 'zh' "
        "WHEN id % 4 = 2 THEN 'de' ELSE NULL END AS lang",
    )
    out = stratified_hash_sample(df, "doc_id", "lang", {"en": 5}, default_one_in=None)
    by_lang = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert by_lang["zh"] == 1000 and by_lang["de"] == 1000  # kept whole
    # NULL stratum takes the default branch (kept whole here), never
    # silently dropped by a NULL-valued NOT IN predicate
    assert by_lang[None] == 1000
    assert 120 < by_lang["en"] < 280  # ~1/5 of 1000
    # with a default rate, NULL rows are sampled at the default rate
    out2 = stratified_hash_sample(df, "doc_id", "lang", {"en": 5}, default_one_in=2)
    n_null = out2.where(F.col("lang").isNull()).count()
    assert 380 < n_null < 620  # ~1/2 of 1000

    # membership is a pure predicate: the plan is a single filter over
    # the scan — no shuffle, no aggregation
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_connected_components_property_vs_union_find(spark):
    """Random edge lists vs a pure-Python union-find reference. Not
    @given-decorated — one Spark job per example is too slow for
    hypothesis's default budget; instead a fixed set of seeded random
    graphs spanning the shapes that break naive propagation (chains,
    stars, cycles, self-loops, disconnected singleton pairs)."""
    import random

    from assetdatavalidationtool_spark.operators import connected_components

    def uf_reference(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # fully compress, then min-id per component
        comp = {}
        for n in list(parent):
            comp.setdefault(find(n), []).append(n)
        return {n: root for root, ns in comp.items() for n in ns}

    rng = random.Random(42)
    cases = [
        [(i, i + 1) for i in range(12)],                      # long chain
        [(0, i) for i in range(1, 10)],                       # star
        [(0, 1), (1, 2), (2, 0), (5, 6), (6, 7), (7, 5)],     # two cycles
        [(3, 3), (4, 5)],                                     # self-loop
        [(rng.randrange(30), rng.randrange(30)) for _ in range(25)],
        [(rng.randrange(50), rng.randrange(50)) for _ in range(40)],
    ]
    for edges in cases:
        expect = uf_reference(edges)
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(pairs).collect()
        }
        assert got == expect, f"edges={edges}"


def test_ann_recall_counts(spark):
    from assetdatavalidationtool_spark.operators.similarity import ann_recall

    truth = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21)], "query_id long, neighbor_id long"
    )
    approx = spark.createDataFrame(
        [(1, 11), (1, 99), (3, 30)], "query_id long, neighbor_id long"
    )
    got = {r["query_id"]: r for r in ann_recall(truth, approx).collect()}
    # query 1: 1 of 2 truth neighbors found; query 2: none (no approx
    # rows at all — must still appear with recall 0, not vanish);
    # query 3 exists only in approx and must NOT appear
    assert set(got) == {1, 2}
    assert (got[1]["n_truth"], got[1]["n_hit"], got[1]["recall"]) == (2, 1, 0.5)
    assert (got[2]["n_truth"], got[2]["n_hit"], got[2]["recall"]) == (2, 0, 0.0)


def test_redact_pii_counts_and_replacement(spark):
    from assetdatavalidationtool_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "write to alice.smith+x@example.co.uk or call +1 555-123-4567 now"),
            (2, "no pii here at all"),
            (3, "two mails: a@b.io and c.d@e-f.org"),
            # bare NANP formats — no country code (the common case; a
            # mandatory-prefix regex shipped these verbatim)
            (4, "call 555-123-4567 today"),
            (5, "call (555) 123-4567 today"),
            (6, "call 555 123 4567 or 555.123.4567"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in redact_pii(df, "doc_id", "text").collect()}
    assert got[1]["n_emails"] == 1 and got[1]["n_phones"] == 1
    assert "[EMAIL]" in got[1]["text_redacted"] and "[PHONE]" in got[1]["text_redacted"]
    assert "@" not in got[1]["text_redacted"] and "555" not in got[1]["text_redacted"]
    assert got[2]["n_emails"] == 0 and got[2]["text_redacted"] == "no pii here at all"
    assert got[3]["n_emails"] == 2
    for d in (4, 5, 6):
        assert "555" not in got[d]["text_redacted"], got[d]["text_redacted"]
    assert got[4]["n_phones"] == 1 and got[5]["n_phones"] == 1
    assert got[6]["n_phones"] == 2


def test_chunk_tokens_boundaries(spark):
    from assetdatavalidationtool_spark.operators.text import chunk_tokens

    text_113 = " ".join(f"w{i}" for i in range(113))
    df = spark.createDataFrame(
        [(1, text_113), (2, "short doc"), (3, "")],
        "doc_id long, text string",
    )
    got = {}
    for r in chunk_tokens(df, "doc_id", "text", chunk_size=64, stride=48).collect():
        got.setdefault(r["doc_id"], []).append(r)
    one = sorted(got[1], key=lambda r: r["chunk_id"])
    # 113 tokens, size 64 stride 48 → chunks at 0/48/96 covering 64/64/17
    assert [r["n_tokens"] for r in one] == [64, 64, 17]
    assert one[1]["chunk_text"].split(" ")[0] == "w48"
    assert one[2]["chunk_text"].split(" ")[-1] == "w112"
    assert got[2][0]["n_tokens"] == 2 and got[2][0]["chunk_id"] == 0
    assert got[3][0]["n_tokens"] == 0 and got[3][0]["chunk_text"] == ""


def test_corpus_vocabulary_ordering(spark):
    from assetdatavalidationtool_spark.operators.text import corpus_vocabulary

    df = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "banana")],
        "doc_id long, text string",
    )
    got = corpus_vocabulary(df, "doc_id", "text", top_k=2).collect()
    # banana in 3 docs, apple in 1 (tf 2), cherry in 1 — top-2 breaks the
    # df tie alphabetically: apple before cherry
    assert [(r["token"], r["doc_freq"], r["total_freq"]) for r in got] == [
        ("banana", 3, 3),
        ("apple", 1, 2),
    ]


def test_sessionize_gap_boundaries(spark):
    import datetime as dt

    from assetdatavalidationtool_spark.operators.events import sessionize

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1: events at 0, 29m59s (same session), then +31m (new)
        (1, t0, 1),
        (1, t0 + dt.timedelta(minutes=29, seconds=59), 2),
        (1, t0 + dt.timedelta(minutes=61), 3),
        # user 2: single event
        (2, t0, 4),
        # user 1: exactly 30m gap after event 3 → SAME session (> gap
        # starts a new one, == gap does not)
        (1, t0 + dt.timedelta(minutes=91), 5),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, event_id long")
    got = {
        (r["user_id"], r["session_seq"]): r
        for r in sessionize(df, "user_id", "ts", "event_id", 30).collect()
    }
    assert got[(1, 1)]["n_events"] == 2
    assert got[(1, 2)]["n_events"] == 2  # events 3 and 5 (exactly-30m gap)
    assert got[(2, 1)]["n_events"] == 1
    assert len(got) == 3


def test_asof_join_semantics(spark):
    import datetime as dt

    from assetdatavalidationtool_spark.operators.events import asof_join

    t = lambda m: dt.datetime(2024, 1, 1, 0, m, 0)  # noqa: E731
    left = spark.createDataFrame(
        [(1, 10, t(5)), (2, 10, t(10)), (3, 10, t(2)), (4, 20, t(5))],
        "event_id long, user_id long, ts timestamp_ntz",
    )
    right = spark.createDataFrame(
        [(10, t(3), 100, 1.5), (10, t(10), 101, 2.5), (30, t(1), 102, 9.9)],
        "user_id long, ts timestamp_ntz, rid long, rval double",
    )
    got = {
        r["event_id"]: (r["rid"], r["rval"])
        for r in asof_join(
            left, right, on=["user_id"], left_ts="ts", right_ts="ts",
            payload=["rid", "rval"], suffix="",
        ).collect()
    }
    assert got[1] == (100, 1.5)   # latest right at/before 0:05 is 0:03
    assert got[2] == (101, 2.5)   # equal timestamps match (inclusive)
    assert got[3] == (None, None) # no right row at/before 0:02
    assert got[4] == (None, None) # user 20 has no right rows at all
    assert len(got) == 4


def test_asof_join_single_shuffle(spark):
    import datetime as dt

    from assetdatavalidationtool_spark.operators.events import asof_join

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, 10, t0)], "event_id long, user_id long, ts timestamp_ntz"
    )
    right = spark.createDataFrame(
        [(10, t0, 5)], "user_id long, ts timestamp_ntz, rid long"
    )
    out = asof_join(left, right, ["user_id"], "ts", "ts", ["rid"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one exchange for the key window; the union sides must not each
    # re-shuffle (hashpartitioning appears once)
    assert plan.count("Exchange hashpartitioning") == 1


def test_sessionize_matches_native_session_window(spark):
    """Cross-check against F.session_window — Spark's idiomatic session
    aggregate (and the Structured Streaming path). Semantics differ only
    at the exact-gap boundary (session_window's window end is exclusive,
    ours is inclusive), so the fixture avoids exact-30m gaps; our
    variant additionally numbers sessions per user, which
    session_window does not provide."""
    import datetime as dt

    from assetdatavalidationtool_spark.operators.events import sessionize

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for u in range(3):
        for m in [0, 10, 25, 70, 75, 200]:
            rows.append((u, t0 + dt.timedelta(minutes=m, seconds=u), eid))
            eid += 1
    df = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, event_id long")

    ours = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in sessionize(df, "user_id", "ts", "event_id", 30).collect()
    }
    native = {
        (r["user_id"], r["start"], r["end"], r["n"])
        for r in df.groupBy(
            "user_id", F.session_window("ts", "30 minutes")
        )
        .agg(
            F.min("ts").alias("start"),
            F.max("ts").alias("end"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    assert ours == native


def test_sessionize_single_shuffle(spark):
    import datetime as dt

    from assetdatavalidationtool_spark.operators.events import sessionize

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1)],
        "user_id long, ts timestamp_ntz, event_id long",
    )
    out = sessionize(df, "user_id", "ts", "event_id", 30)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # AQE's toString prints the Final Plan followed by the Initial Plan;
    # gate on the final section only
    final = plan.split("== Initial Plan ==")[0]
    # hash partitioning on user_id satisfies the (user_id, session_seq)
    # grouping (subset property) — both windows and the final aggregate
    # ride ONE exchange
    assert final.count("Exchange hashpartitioning") == 1


# ---------------------------------------------------------------------------
# pHash near-dup (bit-band LSH, pigeonhole-exact)
# ---------------------------------------------------------------------------
def _ph_rows():
    # base hashes far apart; planted near/exact dups around id 1
    return [
        ("a1", 0x0123456789ABCDEF),
        ("a2", 0x0123456789ABCDEF ^ 0x10401),  # hamming 3 vs a1
        ("a3", 0x0123456789ABCDEF),            # exact dup of a1
        ("b1", 0x7EDCBA9876543210),
        ("b2", 0x7EDCBA9876543210 ^ 0xF0F0),   # hamming 8 vs b1 — outside radius
        ("c1", -0x4000000000000000),           # sign-bit territory
        ("c2", (-0x4000000000000000) ^ 0x3),   # hamming 2 vs c1
    ]


def test_phash_neardup_planted_pairs(spark):
    from assetdatavalidationtool_spark.operators.phash import phash_neardup_pairs

    df = spark.createDataFrame(_ph_rows(), "image_id string, phash long")
    got = {
        (r.image_a, r.image_b): r.hamming
        for r in phash_neardup_pairs(df, max_hamming=3).collect()
    }
    assert got == {("a1", "a2"): 3, ("a2", "a3"): 3, ("a1", "a3"): 0,
                   ("c1", "c2"): 2}


def test_phash_neardup_matches_bruteforce(spark):
    """Pigeonhole exactness: the banded join finds EVERY pair within
    the radius on a clustered random corpus (no guard; driver-side
    brute force is the ground truth)."""
    import itertools
    import random

    from assetdatavalidationtool_spark.operators.phash import phash_neardup_pairs

    rng = random.Random(7)
    rows = []
    for i in range(120):
        base = rng.getrandbits(64) - (1 << 63)
        rows.append((f"x{i:03d}", base))
        if i % 3 == 0:  # cluster: flip up to 4 random bits (unsigned domain)
            u = base & ((1 << 64) - 1)
            for _ in range(rng.randint(1, 4)):
                u ^= 1 << rng.randrange(64)
            rows.append((f"y{i:03d}", u - (1 << 64) if u >= (1 << 63) else u))
    expect = set()
    for (ia, pa), (ib, pb) in itertools.combinations(rows, 2):
        if bin((pa ^ pb) & ((1 << 64) - 1)).count("1") <= 3:
            expect.add((min(ia, ib), max(ia, ib)))
    df = spark.createDataFrame(rows, "image_id string, phash long")
    got = {
        (r.image_a, r.image_b)
        for r in phash_neardup_pairs(df, max_hamming=3, max_bucket_size=None).collect()
    }
    assert got == expect


def test_phash_neardup_hot_bucket_guard(spark):
    """A mega-bucket (here: hundreds of images sharing every band) is
    dropped, not joined — its O(n^2) pairs never materialize."""
    from assetdatavalidationtool_spark.operators.phash import phash_neardup_pairs

    rows = [(f"h{i:04d}", 42) for i in range(300)]  # one 300-row cluster
    rows += [("q1", 0x5A5A5A5A), ("q2", 0x5A5A5A5A ^ 0x1)]
    df = spark.createDataFrame(rows, "image_id string, phash long")
    got = {
        (r.image_a, r.image_b)
        for r in phash_neardup_pairs(df, max_hamming=3, max_bucket_size=200).collect()
    }
    assert got == {("q1", "q2")}


def test_phash_neardup_rejects_invalid_radius(spark):
    from assetdatavalidationtool_spark.operators.phash import phash_neardup_pairs

    df = spark.createDataFrame([("a", 1)], "image_id string, phash long")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        phash_neardup_pairs(df, max_hamming=4, bands=4)


# ---------------------------------------------------------------------------
# n-gram containment (benchmark contamination)
# ---------------------------------------------------------------------------
def test_ngram_containment_embedded_benchmark(spark):
    """A corpus doc that embeds a benchmark item verbatim scores 1.0
    even though its Jaccard similarity is low; an unrelated doc scores
    nothing."""
    from assetdatavalidationtool_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    bench_text = "the quick brown fox jumps over the lazy dog"
    long_doc = (
        "intro words here and more padding text " + bench_text
        + " trailing filler goes on and on with many extra tokens today"
    )
    corpus = spark.createDataFrame(
        [(1, long_doc), (2, "completely unrelated content about ramen bowls")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    out = ngram_containment_pairs(corpus, bench, "doc_id", "text", threshold=0.5)
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_id, r.bench_id, r.containment) == (1, 100, 1.0)
    # the same pair is invisible to symmetric Jaccard at that threshold
    both = corpus.unionByName(bench)
    jac = ngram_jaccard_pairs(both, "doc_id", "text", threshold=0.5).collect()
    assert all({p.doc_a, p.doc_b} != {1, 100} for p in jac)


def test_ngram_containment_df_cap_applies_to_corpus_only(spark):
    """Boilerplate shingles shared by > max_shingle_df corpus docs are
    dropped from the join, but the benchmark size (the denominator)
    stays exact."""
    from assetdatavalidationtool_spark.operators.dedup import ngram_containment_pairs

    boiler = "click here to subscribe to our newsletter"
    corpus = spark.createDataFrame(
        [(i, boiler) for i in range(5)], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(100, boiler + " unique closing words")], "doc_id long, text string"
    )
    out = ngram_containment_pairs(
        corpus, bench, "doc_id", "text", threshold=0.1, max_shingle_df=3
    ).collect()
    assert out == []  # every corpus shingle was boilerplate → no join rows


def test_assign_split_exact_partition_and_determinism(spark):
    """Every row gets exactly one split; fractions land within 1% of
    target at 10k rows; assignment is identical across partitionings."""
    from assetdatavalidationtool_spark.operators.sampling import assign_split

    df = spark.range(10000).select(F.col("id").alias("doc_id"))
    out = assign_split(df, "doc_id").groupBy("split").count().collect()
    counts = {r["split"]: r["count"] for r in out}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 10000
    assert abs(counts["train"] - 9000) < 100
    assert abs(counts["val"] - 500) < 75 and abs(counts["test"] - 500) < 75
    # partition-invariance: same rows, different layout, same assignment
    a = {(r["doc_id"], r["split"]) for r in assign_split(df, "doc_id").collect()}
    b = {
        (r["doc_id"], r["split"])
        for r in assign_split(df.repartition(13), "doc_id").collect()
    }
    assert a == b


def test_assign_split_validates_fractions(spark):
    from assetdatavalidationtool_spark.operators.sampling import assign_split

    df = spark.range(5).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError):
        assign_split(df, "doc_id", {"train": 0.7, "val": 0.2})  # sums to 0.9


def test_repetition_score_flags_repeats(spark):
    from assetdatavalidationtool_spark.operators.text import repetition_score

    rows = [
        (0, "spam spam spam spam spam"),                  # one token repeated
        (1, "all words here are fully distinct tokens"),  # no repeats
        (2, "ab"),                                        # too short for 2-grams
        (3, ""),                                          # degenerate
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_score(df, "doc_id", "text").collect()}
    assert got[0]["dup_token_frac"] == 0.8      # 1 - 1/5
    assert got[0]["dup_2gram_frac"] == 0.75     # 1 - 1/4
    assert got[1]["dup_token_frac"] == 0.0 and got[1]["dup_2gram_frac"] == 0.0
    assert got[2]["dup_2gram_frac"] == 0.0      # no grams, not NaN
    assert got[3]["n_tokens"] == 0 and got[3]["dup_token_frac"] == 0.0


def test_pack_chunks_bin_assignment(spark):
    """Bins fill to the budget with at most one straddling chunk of
    overrun; every chunk lands in exactly one bin; counts conserve."""
    from assetdatavalidationtool_spark.operators.text import pack_chunks

    rows = [(d, c, 64) for d in range(4) for c in range(5)]  # 20×64 tokens
    chunks = spark.createDataFrame(rows, "doc_id long, chunk_id int, n_tokens int")
    out = pack_chunks(chunks, budget=100, n_lanes=1).collect()
    assert sum(r["n_chunks"] for r in out) == 20
    assert sum(r["bin_tokens"] for r in out) == 20 * 64
    # budget 100, chunk 64: exclusive-cumsum boundaries → bins of 2
    # chunks (128 tokens, the 2nd straddles) except a possible last
    for r in out:
        assert r["n_chunks"] in (1, 2)
        assert r["bin_tokens"] <= 100 + 63  # ≤ budget + (chunk-1) overrun


def test_pack_chunks_partition_invariant_and_lane_spread(spark):
    """Bin assignment is identical under any input partitioning (lane
    hash + in-lane order fully determine it), and lanes actually spread."""
    from assetdatavalidationtool_spark.operators.text import pack_chunks

    rows = [(d, c, 10) for d in range(50) for c in range(2)]
    chunks = spark.createDataFrame(rows, "doc_id long, chunk_id int, n_tokens int")
    got = pack_chunks(chunks, budget=15, n_lanes=4).collect()
    assert sum(r["n_chunks"] for r in got) == 100
    lanes = {r["lane"] for r in got}
    assert lanes <= {0, 1, 2, 3} and len(lanes) > 1
    a = {tuple(r) for r in got}
    b = {tuple(r) for r in pack_chunks(chunks.repartition(17), budget=15, n_lanes=4).collect()}
    assert a == b


def test_unigram_logprob_orders_rare_docs_last(spark):
    """A doc made of corpus-rare tokens must carry higher avg_nll (and a
    higher ppl tier) than one made of the dominant token."""
    from assetdatavalidationtool_spark.operators.text import unigram_logprob

    rows = (
        [(i, "common common common common") for i in range(9)]
        + [(100, "zxqv qvxz xqzv wwyy")]  # each rare token appears once
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in unigram_logprob(df, "doc_id", "text").collect()}
    assert len(got) == 10
    assert got[100]["avg_nll"] > got[0]["avg_nll"]
    assert got[100]["ppl_bucket"] == 3 and got[0]["ppl_bucket"] == 1
    # common-token docs: -ln(36/40) each token... all identical scores
    assert got[0]["avg_nll"] == got[8]["avg_nll"]


def test_unigram_logprob_skips_empty_docs(spark):
    from assetdatavalidationtool_spark.operators.text import unigram_logprob

    df = spark.createDataFrame(
        [(0, "alpha beta"), (1, ""), (2, "   ")], "doc_id long, text string"
    )
    out = unigram_logprob(df, "doc_id", "text").collect()
    assert {r["doc_id"] for r in out} == {0}


def test_image_gate_first_failing_reason_order(spark):
    from assetdatavalidationtool_spark.operators.images import image_gate

    rows = [
        ("ok", 512, 512, "png", 5000),
        ("null", None, 512, "png", 5000),        # null_dims
        ("small+gif", 32, 512, "gif", 5000),      # too_small wins over bad_format
        ("big", 9000, 512, "png", 5000),          # too_large
        ("aspect", 4100, 1000, "png", 5000),      # >4:1
        ("fmt", 512, 512, "bmp", 5000),           # bad_format
        ("tiny", 512, 512, "PNG", 64),            # tiny_payload (fmt case-insensitive)
    ]
    df = spark.createDataFrame(
        rows, "image_id string, w long, h long, fmt string, n_bytes long"
    )
    got = {r["image_id"]: r for r in image_gate(df).collect()}
    assert got["ok"]["passed"] and got["ok"]["reject_reason"] is None
    assert got["null"]["reject_reason"] == "null_dims"
    assert got["small+gif"]["reject_reason"] == "too_small"
    assert got["big"]["reject_reason"] == "too_large"
    assert got["aspect"]["reject_reason"] == "extreme_aspect"
    assert got["fmt"]["reject_reason"] == "bad_format"
    assert got["tiny"]["reject_reason"] == "tiny_payload"


def test_aspect_buckets_nearest_and_null(spark):
    from assetdatavalidationtool_spark.operators.images import aspect_buckets

    rows = [
        ("sq", 500, 500), ("p34", 600, 800), ("t916", 900, 1600),
        ("l43", 800, 600), ("w169", 1600, 900), ("ultra", 4000, 500),
        ("nul", None, 100),
    ]
    df = spark.createDataFrame(rows, "image_id string, w long, h long")
    got = {r["image_id"]: r["bucket"] for r in aspect_buckets(df).collect()}
    assert got["sq"] == "square_1_1" and got["p34"] == "portrait_3_4"
    assert got["t916"] == "tall_9_16" and got["l43"] == "landscape_4_3"
    assert got["w169"] == "wide_16_9"
    assert got["ultra"] == "wide_16_9"   # clamps to the widest bucket
    assert got["nul"] is None


def test_shard_plan_budget_and_conservation(spark):
    """Every image lands in exactly one shard; shard bytes respect the
    budget plus at most one straddling image; grouping is respected."""
    from assetdatavalidationtool_spark.operators.images import shard_plan

    rows = [
        (f"im{i:03d}", "square_1_1" if i % 2 == 0 else "wide_16_9", 300)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "image_id string, bucket string, n_bytes long")
    out = shard_plan(df, budget_bytes=1000, n_lanes=1).collect()
    assert sum(r["n_images"] for r in out) == 40
    assert sum(r["shard_bytes"] for r in out) == 40 * 300
    for r in out:
        # budget 1000, image 300: ≤ budget + (image-1) overrun
        assert r["shard_bytes"] <= 1000 + 299
        assert r["bucket"] in ("square_1_1", "wide_16_9")
    # 20 images × 300 B per bucket = 6000 B → shards of 4 (1200 B,
    # 4th straddles) except a possible short last one
    assert all(r["n_images"] in (1, 2, 3, 4) for r in out)


def test_shard_plan_partition_invariant(spark):
    """Shard assignment is a pure function of (id hash, in-lane order) —
    identical under any input partitioning, and lanes spread."""
    from assetdatavalidationtool_spark.operators.images import shard_plan

    rows = [(f"x{i:04d}", "b", 100 + (i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, "image_id string, bucket string, n_bytes long")
    got = {tuple(r) for r in shard_plan(df, budget_bytes=500, n_lanes=4).collect()}
    rep = {
        tuple(r)
        for r in shard_plan(df.repartition(13), budget_bytes=500, n_lanes=4).collect()
    }
    assert got == rep
    assert len({t[1] for t in got}) > 1  # lanes actually spread


def test_compression_stats_flags_planted_outliers(spark):
    """Integer cross-multiplication outlier predicates: a starved and a
    bloated payload are counted; ratio is exact BIGINT division."""
    from assetdatavalidationtool_spark.operators.images import compression_stats

    rows = [
        ("a", 100, 100, "png", 1000),   # 100 milli-bpp — sane
        ("b", 100, 100, "png", 20),     # 2 milli-bpp — under (<5)
        ("c", 100, 100, "png", 50000),  # 5000 milli-bpp — over (>2000)
        ("d", 200, 100, "PNG", 2000),   # case-folds into png
    ]
    df = spark.createDataFrame(rows, "image_id string, w int, h int, fmt string, n_bytes long")
    got = {r["fmt"]: r for r in compression_stats(df).collect()}
    assert set(got) == {"png"}
    r = got["png"]
    assert r["n_images"] == 4 and r["n_under"] == 1 and r["n_over"] == 1
    assert r["total_pixels"] == 3 * 10000 + 20000
    assert r["milli_bpp"] == (1000 + 20 + 50000 + 2000) * 1000 // 50000


def test_connected_components_registers_tempdir_sweep(spark):
    """Auto-created checkpoint roots are queued for atexit removal
    (callers supplying checkpoint_dir manage their own)."""
    import os

    from assetdatavalidationtool_spark.operators import dedup as dd

    pairs = spark.createDataFrame([("a", "b")], "doc_a string, doc_b string")
    before = len(dd._TEMP_CC_ROOTS)
    dd.connected_components(pairs).collect()
    assert len(dd._TEMP_CC_ROOTS) == before + 1
    root = dd._TEMP_CC_ROOTS[-1]
    assert os.path.isdir(root)
    dd._sweep_cc_roots()
    assert not os.path.isdir(root)
    del dd._TEMP_CC_ROOTS[:]


def test_exact_duplicates_groups_and_canonical(spark):
    """Identical payloads group on digest; singletons are dropped; the
    canonical id is the lexicographic minimum of each group."""
    from assetdatavalidationtool_spark.operators.images import exact_duplicates

    rows = [
        ("img_3", b"same"),
        ("img_1", b"same"),
        ("img_2", b"same"),
        ("img_9", b"other"),
        ("img_8", b"other"),
        ("img_7", b"unique"),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {r["canonical"]: r["n_copies"] for r in exact_duplicates(df).collect()}
    assert got == {"img_1": 3, "img_8": 2}


def test_boilerplate_captions_normalizes_and_thresholds(spark):
    """Case/whitespace variants of one template group together; captions
    below min_images distinct images are dropped; duplicate (caption,id)
    rows count once via the DISTINCT."""
    from assetdatavalidationtool_spark.operators.text import boilerplate_captions

    rows = (
        [(f"img_{i}", "Click  HERE to   download") for i in range(3)]
        + [(f"img_{i + 3}", "click here to download ") for i in range(2)]
        + [("img_3", "click here to download")]  # dup id — counts once
        + [(f"img_{i + 10}", "rare caption") for i in range(4)]
    )
    df = spark.createDataFrame(rows, "image_id string, caption string")
    out = boilerplate_captions(df, min_images=5).collect()
    assert len(out) == 1
    r = out[0]
    assert r["caption"] == "click here to download"
    assert r["n_images"] == 5 and r["sample_id"] == "img_0"


def test_value_quantiles_cdf_exact(spark):
    """Integer CDF quantiles: smallest value whose cumulative count
    covers the target rank; NULLs excluded; duplicates weighted."""
    from assetdatavalidationtool_spark.operators.stats import value_quantiles

    rows = [(v, 100 - v) for v in range(1, 11)] + [(None, 7), (5, 50)]
    df = spark.createDataFrame(rows, "a int, b int")
    got = {r["col_name"]: r for r in value_quantiles(df, ["a", "b"]).collect()}
    a = got["a"]
    # a: values 1..10 plus an extra 5 -> 11 values, 10 distinct
    assert a["n_values"] == 11 and a["n_distinct"] == 10
    assert a["p50"] == 5   # cum at 5 is 6; 600 >= 550
    assert a["p90"] == 9   # cum at 9 is 10; 1000 >= 990
    assert a["p99"] == 10
    b = got["b"]
    assert b["n_values"] == 12 and b["n_distinct"] == 12  # incl. the null-a row's b=7
    assert b["p50"] == 93 and b["p99"] == 99


def test_crossmodal_consistency_flags_unrelated_pairs(spark):
    """Identical -> 1.0 ok; opposite -> -1.0 low; orthogonal -> 0.0 ok
    (threshold test is strict <, on the unrounded value)."""
    from assetdatavalidationtool_spark.operators.similarity import (
        crossmodal_consistency,
    )

    rows = [
        (0, [1.0, 0.0], [1.0, 0.0]),
        (1, [1.0, 0.0], [-1.0, 0.0]),
        (2, [1.0, 0.0], [0.0, 1.0]),
    ]
    df = spark.createDataFrame(
        rows, "pair_id long, vec_a array<float>, vec_b array<float>"
    )
    got = {r["pair_id"]: (r["cosine"], r["status"])
           for r in crossmodal_consistency(df).collect()}
    assert got == {0: (1.0, "ok"), 1: (-1.0, "low"), 2: (0.0, "ok")}


def test_value_quantiles_matches_rank_definition_randomized(spark):
    """For any multiset, pN must equal sorted[ceil(N*n/100)-1] (the
    smallest value whose cumulative count covers the target rank).
    Ten seeded random columns of varying length/dup-rate, padded with
    NULLs to one wide frame (NULLs are excluded by the operator)."""
    import math
    import random

    from assetdatavalidationtool_spark.operators.stats import value_quantiles

    rng = random.Random(421)
    cols = {}
    for i in range(10):
        n = rng.randint(1, 80)
        dom = rng.choice([3, 10, 1000, 10**9])
        cols[f"c{i}"] = [rng.randint(-dom, dom) for _ in range(n)]
    width = max(len(v) for v in cols.values())
    rows = [
        tuple(vals[j] if j < len(vals) else None for vals in cols.values())
        for j in range(width)
    ]
    df = spark.createDataFrame(
        rows, ", ".join(f"{c} long" for c in cols)
    )
    got = {r["col_name"]: r for r in value_quantiles(df, list(cols)).collect()}
    for c, vals in cols.items():
        s = sorted(vals)
        n = len(s)
        for q in (50, 90, 99):
            exp = s[math.ceil(q * n / 100) - 1]
            assert got[c][f"p{q}"] == exp, (c, q, n)
        assert got[c]["n_values"] == n
        assert got[c]["n_distinct"] == len(set(vals))


def test_crossmodal_consistency_degenerate_pairs_flagged_invalid(spark):
    """Zero or NULL embeddings must surface as status 'invalid' with a
    NULL cosine — NaN < threshold is false, so without the guard a dead
    encoder output would silently pass the screen as 'ok'."""
    from assetdatavalidationtool_spark.operators.similarity import (
        crossmodal_consistency,
    )

    rows = [
        (0, [1.0, 0.0], [0.0, 0.0]),   # zero caption embedding
        (1, [0.0, 0.0], [0.0, 0.0]),   # both dead
        (2, None, [1.0, 0.0]),         # missing image embedding
        (3, [1.0, 0.0], [1.0, 0.0]),   # healthy control
    ]
    df = spark.createDataFrame(
        rows, "pair_id long, vec_a array<float>, vec_b array<float>"
    )
    got = {r["pair_id"]: (r["cosine"], r["status"])
           for r in crossmodal_consistency(df).collect()}
    assert got[0] == (None, "invalid")
    assert got[1] == (None, "invalid")
    assert got[2] == (None, "invalid")
    assert got[3] == (1.0, "ok")


def test_exact_duplicates_ignores_null_payloads(spark):
    """Rows lacking bytes must NOT group into a fake duplicate set
    (md5(NULL)=NULL and groupBy equates NULL digests)."""
    from assetdatavalidationtool_spark.operators.images import exact_duplicates

    rows = [
        ("img_1", None), ("img_2", None), ("img_3", None),
        ("img_4", b"x"), ("img_5", b"x"),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {r["canonical"]: r["n_copies"] for r in exact_duplicates(df).collect()}
    assert got == {"img_4": 2}


def test_boilerplate_captions_ignores_null_captions(spark):
    """NULL captions are missing data, not a shared template."""
    from assetdatavalidationtool_spark.operators.text import boilerplate_captions

    rows = [(f"img_{i}", None) for i in range(6)] + [
        (f"img_{i + 10}", "same text") for i in range(5)
    ]
    df = spark.createDataFrame(rows, "image_id string, caption string")
    out = boilerplate_captions(df, min_images=5).collect()
    assert len(out) == 1 and out[0]["caption"] == "same text"


def test_sessionize_is_session_timezone_independent(spark):
    """NTZ gap arithmetic must not route through the session timezone:
    two events 25 naive-minutes apart straddling the US DST fall-back
    (01:50 -> 02:15 on 2024-11-03; the session-TZ cast would put them
    85 epoch-minutes apart) are ONE session under any timeZone."""
    import datetime as dt

    from assetdatavalidationtool_spark.operators.events import sessionize

    rows = [
        (1, dt.datetime(2024, 11, 3, 1, 50, 0), 1),
        (1, dt.datetime(2024, 11, 3, 2, 15, 0), 2),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, event_id long"
    )
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        results = {}
        for tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            results[tz] = sorted(
                (r["user_id"], r["session_seq"], r["n_events"])
                for r in sessionize(df, "user_id", "ts", "event_id", 30).collect()
            )
        assert results["UTC"] == results["America/New_York"] == [(1, 1, 2)]
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_assign_split_threshold_rounding(spark):
    """Custom fractions whose float cumsum lands at X.999… round to the
    documented threshold instead of truncating one bucket low: with
    {a:.01, b:.06, c:.93} the b/c boundary is bucket 700 exactly
    (0.01+0.06 accumulates to 699.999… before rounding)."""
    from assetdatavalidationtool_spark.operators.sampling import (
        _hash_bucket,
        assign_split,
    )

    df = spark.range(100000).select(F.col("id").cast("string").alias("doc_id"))
    got = assign_split(df, "doc_id", {"a": 0.01, "b": 0.06, "c": 0.93}).withColumn(
        "bucket", _hash_bucket(F.col("doc_id"), "split", 10000)
    )
    bad = got.where(
        ((F.col("bucket") < 100) & (F.col("split") != "a"))
        | ((F.col("bucket") >= 100) & (F.col("bucket") < 700) & (F.col("split") != "b"))
        | ((F.col("bucket") >= 700) & (F.col("split") != "c"))
    )
    assert bad.count() == 0
    # the boundary bucket itself is populated and lands on the 'b' side
    assert got.where((F.col("bucket") == 699) & (F.col("split") == "b")).count() > 0


def test_gate_order_is_authoritative(spark):
    """GATE_ORDER lists every reason gate_reason_expr can emit and IS
    the precedence (the when-chain is built from the tuple)."""
    from assetdatavalidationtool_spark.operators.images import (
        GATE_ORDER,
        gate_reason_expr,
    )

    assert {"starved_payload", "bloated_payload"} <= set(GATE_ORDER)
    rows = [
        # fails too_small AND bad_format AND starved -> first in order wins
        ("multi", 10, 10, "gif", 16),
        ("starved", 4000, 4000, "png", 200),
        ("bloated", 64, 64, "png", 99000),
        ("clean", 512, 512, "png", 40000),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, w int, h int, fmt string, n_bytes int"
    )
    got = {
        r["image_id"]: r["reason"]
        for r in df.select(
            "image_id",
            gate_reason_expr(milli_bpp_bounds=(5, 2000)).alias("reason"),
        ).collect()
    }
    assert got["multi"] == "too_small"
    assert got["starved"] == "starved_payload"
    assert got["bloated"] == "bloated_payload"
    assert got["clean"] is None
    assert {v for v in got.values() if v} <= set(GATE_ORDER)


def test_header_consistency_real_payloads(spark):
    """The decode-free header screen over REAL codec bytes: datagen's
    actual PNG streams and stub-lossy payloads, with one planted fault
    per reason family. Mirrors the reference's two-source cell conflict
    (Validator.cs:93-142) with the payload header as the second source."""
    from assetdatavalidationtool_spark.datagen import make_row
    from assetdatavalidationtool_spark.operators.images import (
        HEADER_ORDER,
        header_consistency,
        header_fields,
    )

    # first png and first stub-lossy row datagen produces
    i, png = 0, None
    stub = None
    while png is None or stub is None:
        r = make_row(i)
        if r["fmt"] == "png" and png is None:
            png = r
        elif r["fmt"] in ("jpeg", "webp") and stub is None:
            stub = r
        i += 1
    rows = [
        ("ok_png", png["w"], png["h"], "png", bytearray(png["bytes"])),
        ("ok_stub", stub["w"], stub["h"], stub["fmt"], bytearray(stub["bytes"])),
        # case-insensitive fmt column, like every other screen
        ("ok_case", png["w"], png["h"], "PNG", bytearray(png["bytes"])),
        ("wrong_w", png["w"] + 1, png["h"], "png", bytearray(png["bytes"])),
        ("wrong_fmt", png["w"], png["h"], "jpeg", bytearray(png["bytes"])),
        ("cut_tail", png["w"], png["h"], "png", bytearray(png["bytes"][:-12])),
        ("no_bytes", png["w"], png["h"], "png", None),
        ("garbage", png["w"], png["h"], "png", bytearray(b"notanimage__")),
        ("sig_only", png["w"], png["h"], "png", bytearray(png["bytes"][:18])),
        # cut INSIDE the dims field: a partial slice must not parse
        # into a garbage int and masquerade as dims_mismatch
        ("short_stub", stub["w"], stub["h"], stub["fmt"],
         bytearray(stub["bytes"][:10])),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, w long, h long, fmt string, bytes binary"
    )
    got = {r["image_id"]: r for r in header_consistency(df).collect()}
    expect = {
        "ok_png": None,
        "ok_stub": None,
        "ok_case": None,
        "wrong_w": "dims_mismatch",
        "wrong_fmt": "format_mismatch",
        "cut_tail": "truncated_payload",
        "no_bytes": "unreadable_header",
        "garbage": "unreadable_header",
        "sig_only": "unreadable_header",
        "short_stub": "unreadable_header",
    }
    assert {k: v["reason"] for k, v in got.items()} == expect
    assert all(got[k]["consistent"] == (v is None) for k, v in expect.items())
    assert {v for v in expect.values() if v} <= set(HEADER_ORDER)
    # parsed dims come from the REAL stream on readable rows
    fields = {r["image_id"]: r for r in header_fields(df).collect()}
    assert fields["ok_png"]["hdr_w"] == png["w"]
    assert fields["ok_png"]["hdr_h"] == png["h"]
    assert fields["ok_stub"]["hdr_w"] == stub["w"]
    assert fields["ok_stub"]["hdr_fmt"] == stub["fmt"]
    assert fields["garbage"]["hdr_fmt"] is None
    # truncation check can be disabled: the cut tail then passes
    got_notrunc = {
        r["image_id"]: r["reason"]
        for r in header_consistency(df, check_truncation=False).collect()
    }
    assert got_notrunc["cut_tail"] is None


def test_hash_to_min_labels_matches_union_find():
    """r6 driver-finish kernel: vectorized hash-to-min must equal a
    union-find reference on every graph shape that breaks naive
    propagation (chains, stars, cycles, duplicates, self-loops,
    singletons, random graphs)."""
    import random

    import numpy as np

    from assetdatavalidationtool_spark.operators.dedup import (
        _hash_to_min_labels,
    )

    def uf(edges, n):
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return [find(i) for i in range(n)]

    rng = random.Random(7)
    cases = [
        ([], 0),
        ([], 5),
        ([(0, 0)], 3),
        ([(i, i + 1) for i in range(40)], 41),              # long chain
        ([(i + 1, i) for i in range(40)], 41),              # reversed
        ([(0, i) for i in range(1, 12)], 12),               # star
        ([(1, 2), (1, 2), (2, 1)], 4),                      # duplicates
        ([(rng.randrange(60), rng.randrange(60)) for _ in range(80)], 60),
        ([(rng.randrange(200), rng.randrange(200)) for _ in range(120)], 200),
    ]
    for edges, n in cases:
        u = np.array([a for a, _ in edges], dtype=np.int64)
        v = np.array([b for _, b in edges], dtype=np.int64)
        got = _hash_to_min_labels(u, v, n)
        assert list(got) == uf(edges, n), f"edges={edges} n={n}"


def test_connected_components_driver_finish_matches_distributed(spark):
    """r6: all three execution shapes — driver finish (default),
    contraction + driver finish (contract_min_edges=0), and the fully
    distributed contraction + label loop (driver_finish_max_pairs=0) —
    must yield identical labels, on long/string ids alike."""
    from assetdatavalidationtool_spark.operators import connected_components

    rows = [(3, 4), (2, 3), (1, 2), (10, 11), (9, 8), (9, 8), (7, 7),
            (20, 21), (22, 21)] + [(i, i + 1) for i in range(100, 130)]
    pairs = spark.createDataFrame(rows, "doc_a long, doc_b long")
    want = {r["doc_id"]: r["cluster_id"]
            for r in connected_components(
                pairs, driver_finish_max_pairs=0).collect()}
    driver = {r["doc_id"]: r["cluster_id"]
              for r in connected_components(pairs).collect()}
    contracted = {r["doc_id"]: r["cluster_id"]
                  for r in connected_components(
                      pairs, contract_min_edges=0).collect()}
    mixed = {r["doc_id"]: r["cluster_id"]
             for r in connected_components(
                 pairs, contract_min_edges=0,
                 driver_finish_max_pairs=0).collect()}
    assert driver == want and contracted == want and mixed == want
    assert want[4] == 1 and want[22] == 20 and want[129] == 100

    spairs = spark.createDataFrame(
        [(f"img_{a}", f"img_{b}") for a, b in rows],
        "doc_a string, doc_b string",
    )
    sdriver = {r["doc_id"]: r["cluster_id"]
               for r in connected_components(spairs).collect()}
    swant = {r["doc_id"]: r["cluster_id"]
             for r in connected_components(
                 spairs, driver_finish_max_pairs=0).collect()}
    assert sdriver == swant and sdriver["img_4"] == "img_1"


def test_connected_components_null_endpoints_agree_across_paths(spark):
    """A pair with a NULL endpoint links nothing: the driver finish and
    the distributed path (driver_finish_max_pairs=0) drop it alike. The
    driver path used to factorize NULL to code -1, which indexed the
    LAST node and merged c into the (d, e) cluster."""
    from assetdatavalidationtool_spark.operators import connected_components

    pairs = spark.createDataFrame(
        [("a", "b"), ("c", None), (None, "b"), ("d", "e"), (None, None)],
        "doc_a string, doc_b string",
    )

    def labels(**kw):
        return {r["doc_id"]: r["cluster_id"]
                for r in connected_components(pairs, **kw).collect()}

    driver = labels()
    assert driver == labels(driver_finish_max_pairs=0)
    assert driver == labels(contract_min_edges=0, driver_finish_max_pairs=0)
    assert driver == {"a": "a", "b": "a", "d": "d", "e": "d"}
