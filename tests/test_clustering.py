"""Lloyd's k-means: recovery on planted blobs, determinism, and the
bounded-driver-state loop discipline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yelp_etl_spark.functions.clustering import kmeans


def _blobs(spark, centers, n_per, spread=0.05, dim=8):
    """Well-separated deterministic blobs: point j of blob b is the
    center shifted by a small fixed offset pattern — no RNG."""
    rows = []
    vid = 0
    for b, c in enumerate(centers):
        for j in range(n_per):
            off = [
                spread * (((vid * 31 + d * 7) % 11) - 5) / 5.0
                for d in range(dim)
            ]
            rows.append((vid, [c[d] + off[d] for d in range(dim)]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_recovers_planted_blobs(spark):
    dim = 8
    centers = [
        [0.0] * dim,
        [5.0] * dim,
        [0.0] * 4 + [5.0] * 4,
    ]
    df = _blobs(spark, centers, n_per=20, dim=dim)
    assign, cent = kmeans(df, k=3, iterations=4)
    got = {r.vec_id: r.cluster for r in assign.collect()}
    # every blob lands in exactly one cluster, clusters are disjoint
    blobs = [set(range(0, 20)), set(range(20, 40)), set(range(40, 60))]
    labels = []
    for blob in blobs:
        blob_labels = {got[v] for v in blob}
        assert len(blob_labels) == 1
        labels.append(blob_labels.pop())
    assert len(set(labels)) == 3
    # final centroids sit near the planted centers
    by_cluster = {}
    for c, pos, v in cent:
        by_cluster.setdefault(c, [0.0] * dim)[pos] = v
    for blob_idx, blob in enumerate(blobs):
        c = labels[blob_idx]
        for d in range(dim):
            assert abs(by_cluster[c][d] - centers[blob_idx][d]) < 0.2


def test_kmeans_deterministic_across_partitionings(spark):
    df = _blobs(spark, [[0.0] * 8, [3.0] * 8], n_per=15)
    a1, c1 = kmeans(df.repartition(1), k=2, iterations=3)
    a2, c2 = kmeans(df.repartition(13), k=2, iterations=3)
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))
    assert sorted(c1) == sorted(c2)


def test_kmeans_assignment_dist_is_true_min(spark):
    """dist2 in the assignment equals the exact squared distance to
    the chosen centroid and is <= distance to every other centroid."""
    df = _blobs(spark, [[0.0] * 8, [3.0] * 8], n_per=10)
    assign, cent = kmeans(df, k=2, iterations=2)
    vecs = {r.vec_id: list(r.embedding) for r in df.collect()}
    by_cluster = {}
    for c, pos, v in cent:
        by_cluster.setdefault(c, [0.0] * 8)[pos] = v
    for r in assign.collect():
        dists = {
            c: sum((float(vecs[r.vec_id][d]) - cv[d]) ** 2 for d in range(8))
            for c, cv in by_cluster.items()
        }
        assert r.cluster == min(dists, key=lambda c: (dists[c], c))
        assert dists[r.cluster] == pytest.approx(r.dist2, rel=1e-9)


def test_random_projection_preserves_norms_and_is_deterministic(spark):
    """JL property on real fixture embeddings: norm ratios concentrate
    near 1 (±1/sqrt(out_dim) scale), and the deterministic md5 matrix
    gives identical output at any partitioning."""
    from yelp_etl_spark.functions.similarity import (
        random_projection,
        squared_norm,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    proj = random_projection(emb, out_dim=16)
    joined = proj.join(
        emb.select("vec_id", squared_norm(F.col("embedding")).alias("n2")),
        "vec_id",
    ).select(
        "vec_id",
        F.sqrt(squared_norm(F.col("projected")) / F.col("n2")).alias("ratio"),
    )
    rows = joined.collect()
    assert len(rows) == emb.count()
    ratios = [r.ratio for r in rows]
    # 1/sqrt(16) = 0.25 relative-error scale; allow generous tails
    assert all(0.3 < r < 1.9 for r in ratios)
    avg = sum(ratios) / len(ratios)
    assert 0.85 < avg < 1.15
    # deterministic across partitionings
    a = sorted(
        (r.vec_id, tuple(round(v, 9) for v in r.projected))
        for r in random_projection(emb.repartition(7), out_dim=16).collect()
    )
    b = sorted(
        (r.vec_id, tuple(round(v, 9) for v in r.projected))
        for r in random_projection(emb.repartition(2), out_dim=16).collect()
    )
    assert a == b


def test_pca_recovers_planted_dominant_direction(spark):
    """Points spread 10x wider along a planted axis than any other:
    the top component must align with it (|cos| > 0.99) and explain
    most of the variance."""
    from yelp_etl_spark.functions.clustering import power_iteration_pca

    dim = 8
    axis = [1.0 if d == 3 else 0.0 for d in range(dim)]
    rows = []
    for i in range(60):
        t = (i - 30) / 3.0  # dominant coordinate, spread ~10
        noise = [0.3 * ((((i * 17 + d * 5) % 13) - 6) / 6.0) for d in range(dim)]
        rows.append((i, [t * axis[d] + noise[d] for d in range(dim)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    loadings, eig, total = power_iteration_pca(df, iterations=6)
    v = [0.0] * dim
    for r in loadings.collect():
        v[r.pos] = r.loading
    cos = sum(v[d] * axis[d] for d in range(dim))
    assert abs(cos) > 0.99
    # sign convention: the dominant coordinate is positive
    assert v[3] > 0
    assert 0 < eig <= total
    assert eig / total > 0.9


def test_pca_deterministic_across_partitionings(spark):
    from yelp_etl_spark.functions.clustering import power_iteration_pca

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    l1, e1, t1 = power_iteration_pca(emb.repartition(3), iterations=3)
    l2, e2, t2 = power_iteration_pca(emb.repartition(11), iterations=3)
    assert sorted(map(tuple, l1.collect())) == sorted(map(tuple, l2.collect()))
    assert round(e1, 6) == round(e2, 6) and round(t1, 6) == round(t2, 6)


def test_hashed_features_signed_and_vocabulary_free(spark):
    """The hashing trick: identical tokens always hit the same signed
    bucket (determinism), values equal the signed token counts, and
    the featurizer needs no vocabulary pass (works on unseen text)."""
    from yelp_etl_spark.functions.text import hashed_features

    df = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "beta gamma"), (3, "alpha")],
        "doc_id long, text string",
    )
    cells = {(r.doc_id, r.feature): r.value for r in hashed_features(df).collect()}
    # alpha appears twice in doc 1 and once in doc 3 → same feature,
    # doc-1 magnitude double doc-3's, same sign
    alpha_cells = [
        (d, f, v) for (d, f), v in cells.items() if d in (1, 3)
    ]
    f_alpha = [f for d, f, v in alpha_cells if d == 3][0]
    v1 = cells[(1, f_alpha)]
    v3 = cells[(3, f_alpha)]
    assert abs(v3) == 1 and v1 == 2 * v3
    # partitioning-independent
    a = sorted(hashed_features(df.repartition(5)).collect())
    b = sorted(hashed_features(df.repartition(2)).collect())
    assert a == b
