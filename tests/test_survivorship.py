"""Containment similarity and golden-record survivorship: brute-force
python parity for the asymmetric measure, and field-wise merge contracts
(longest text, modal lang/source, deterministic tie-breaks)."""

import pytest
from pyspark.sql import functions as F

from probability_of_buying_two_products_together_hadoop_project_spark.operators import dedup

DOCS = [
    # (doc_id, text, lang, source, n_chars)
    (1, "alpha beta gamma delta", "en", "web", 22),
    (2, "alpha beta", "en", "web", 10),  # fully contained in 1
    (3, "alpha beta gamma delta epsilon zeta", "de", "web", 35),
    (4, "unrelated words entirely different", "en", "web", 34),
]


def _shingles(text):
    return set(text.lower().split())





@pytest.mark.parametrize("tile_axis", ["rows", "arrays"])
def test_containment_matches_brute_force(spark, monkeypatch, tile_axis):
    """Parity with brute force when one tile axis of the block kernel is
    cut to width 1: "rows" puts each document in its own row tile, so
    every pair is counted across two tiles; "arrays" cuts the incidence
    arrays to one gram per vocabulary tile, so every intersection is
    summed over several tile products."""
    if tile_axis == "rows":
        monkeypatch.setattr(dedup, "_PAIR_TILE_ROWS", 1)
    else:
        monkeypatch.setattr(dedup, "_PAIR_TILE_VOCAB", 1)
    df = spark.createDataFrame(DOCS, ["doc_id", "text", "lang", "source", "n_chars"])
    got = {
        (r["doc_id"], r["container_id"]): r["containment"]
        for r in dedup.containment_pairs(
            df, block_col="source", shingle_n=1, threshold=0.6
        ).collect()
    }
    want = {}
    for a_id, a_txt, *_ in DOCS:
        for b_id, b_txt, *_ in DOCS:
            if a_id == b_id:
                continue
            sa, sb = _shingles(a_txt), _shingles(b_txt)
            c = len(sa & sb) / len(sa)
            if c >= 0.6:
                want[(a_id, b_id)] = c
    assert got == want
    # the asymmetry this operator exists for: 2-in-1 hits, 1-in-2 misses
    assert (2, 1) in got and (1, 2) not in got


def test_golden_record_field_wise_merge(spark):
    docs = spark.createDataFrame(DOCS, ["doc_id", "text", "lang", "source", "n_chars"])
    clusters = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 40)], ["doc_id", "cluster_id"]
    )
    out = {r["cluster_id"]: r for r in dedup.golden_record(docs, clusters).collect()}
    g = out[10]
    assert g["canonical_id"] == 1  # min member id
    assert g["n_members"] == 3
    assert g["text"] == DOCS[2][1]  # longest member's text (doc 3)
    assert g["n_chars"] == 35
    assert g["lang"] == "en"  # modal: en x2 beats de x1
    assert g["source"] == "web"
    assert out[40]["canonical_id"] == 4 and out[40]["n_members"] == 1


def test_golden_record_tie_breaks(spark):
    rows = [
        (5, "same length xx", "en", "crawl", 14),
        (6, "same length yy", "fr", "books", 14),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    clusters = spark.createDataFrame([(5, 5), (6, 5)], ["doc_id", "cluster_id"])
    g = dedup.golden_record(docs, clusters).collect()[0]
    assert g["text"] == rows[0][1]  # n_chars tie -> smaller doc_id
    assert g["lang"] == "en"  # modal tie -> lexicographically smaller
    assert g["source"] == "books"
