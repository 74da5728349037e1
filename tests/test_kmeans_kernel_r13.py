"""The r13 Arrow-kernel Lloyd rounds must be bit-identical to the
relational explode/join/window loop they replace (the FS-EM
fold-vs-loop precedent), across training, assignment, and the full
SemDeDup pipeline; ragged seed vectors must fall back to the loop."""

import pytest

from probability_of_buying_two_products_together_hadoop_project_spark.operators import (
    similarity,
)


@pytest.fixture()
def force_relational(monkeypatch):
    monkeypatch.setattr(similarity, "_KMEANS_FORCE_RELATIONAL", True)


def _vecs(spark, ragged=False):
    rows = []
    for i in range(60):
        v = [((i * 7 + p * 13) % 29 - 14) / 7.0 for p in range(6)]
        if ragged and i % 11 == 0:
            v = v[: 3 + i % 3]  # ragged points exercise the mask path
        rows.append((i, v))
    rows.append((60, None))  # NULL vector: excluded from assignment
    rows.append((61, []))  # empty vector: excluded from assignment
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _collect_sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_kernel_training_bit_equals_relational(spark, monkeypatch):
    df = _vecs(spark)
    fast = _collect_sorted(similarity.kmeans_lloyd(df, k=4, iters=3))
    monkeypatch.setattr(similarity, "_KMEANS_FORCE_RELATIONAL", True)
    slow = _collect_sorted(similarity.kmeans_lloyd(df, k=4, iters=3))
    assert fast == slow


def test_kernel_assign_bit_equals_relational(spark, monkeypatch):
    df = _vecs(spark, ragged=True)
    fast = _collect_sorted(similarity.kmeans_assign(df, k=4, iters=2))
    monkeypatch.setattr(similarity, "_KMEANS_FORCE_RELATIONAL", True)
    slow = _collect_sorted(similarity.kmeans_assign(df, k=4, iters=2))
    assert fast == slow


def test_kernel_semantic_dedup_bit_equals_relational(spark, monkeypatch):
    df = _vecs(spark)
    fast = _collect_sorted(
        similarity.semantic_dedup(df, k=4, iters=2, threshold=0.35)
    )
    monkeypatch.setattr(similarity, "_KMEANS_FORCE_RELATIONAL", True)
    slow = _collect_sorted(
        similarity.semantic_dedup(df, k=4, iters=2, threshold=0.35)
    )
    assert fast == slow


def test_kernel_semantic_dedup_ragged_equals_relational(spark, monkeypatch):
    # a cluster mixing vector lengths cannot pack into one matrix: the
    # screen must refuse the kernel and answer through the self-join
    df = _vecs(spark, ragged=True)
    fast = _collect_sorted(
        similarity.semantic_dedup(df, k=4, iters=2, threshold=0.35)
    )
    monkeypatch.setattr(similarity, "_KMEANS_FORCE_RELATIONAL", True)
    slow = _collect_sorted(
        similarity.semantic_dedup(df, k=4, iters=2, threshold=0.35)
    )
    assert fast == slow and len(fast) == 60


def test_ragged_seed_vectors_fall_back_to_relational(spark):
    # seed draw is md5-based: make EVERY vector ragged so whichever ids
    # are drawn, seed lengths differ and the gate must refuse to pack
    rows = [(i, [float(i % 5)] * (3 + i % 4)) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assert (
        similarity._kmeans_kernel_state(
            df, 4, "vec_id", "embedding", 10**6, "km"
        )
        is None
    )
    # and the public entry still answers (relational loop)
    assert similarity.kmeans_lloyd(df, k=4, iters=1).count() > 0
