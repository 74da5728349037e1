"""Pins for the re-implemented near-dup paths.

- `jaccard_pairs` and `containment_pairs` share one blocked Arrow
  kernel; both are pinned against a pure-Python brute force over the
  same normalization, with the tile constants at their defaults and
  patched small, and on the degenerate inputs (NULL block keys, NULL,
  blank and too-short texts, one-document blocks, empty input).
- `simhash_signatures` (xxhash64 family) moved onto the shared
  explode + 64-conditional-sum helper; pinned bit-identical to the
  original HOF balance/pack template, like the md5 sibling.
- `simhash_fast_recall_report` is a new property-bound report; its
  counts and invariant flags are pinned on a planted corpus and on
  degenerate inputs.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from probability_of_buying_two_products_together_hadoop_project_spark.operators import dedup


def _norm_tokens(text: str) -> list[str]:
    return [w for w in re.sub(r"\s+", " ", text.lower().strip()).split(" ") if w]


def _py_grams(text, n: int) -> set[str]:
    tk = [] if text is None else _norm_tokens(text)
    return {" ".join(tk[k : k + n]) for k in range(len(tk) - n + 1)}


def py_set_similarity_pairs(rows, n: int, threshold: float, measure: str):
    """Brute-force mirror of both blocked operators over (doc_id, text,
    block) rows: every ordered in-block pair of documents with at least
    one distinct n-gram; Jaccard keeps a < b, containment a != b."""
    sets = {i: _py_grams(t, n) for i, t, _ in rows}
    want = {}
    for a, _, ba in rows:
        for b, _, bb in rows:
            if ba is None or ba != bb or not sets[a] or not sets[b]:
                continue
            inter = len(sets[a] & sets[b])
            if measure == "jaccard" and a < b:
                v = inter / len(sets[a] | sets[b])
            elif measure == "containment" and a != b:
                v = inter / len(sets[a])
            else:
                continue
            if v >= threshold:
                want[(a, b)] = v
    return want


def _jaccard(docs, n, threshold):
    return {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(
            docs, block_col="source", shingle_n=n, threshold=threshold
        ).collect()
    }


def _containment(docs, n, threshold):
    return {
        (r["doc_id"], r["container_id"]): r["containment"]
        for r in dedup.containment_pairs(
            docs, block_col="source", shingle_n=n, threshold=threshold
        ).collect()
    }


def test_containment_pairs_matches_bruteforce(spark):
    """containment_pairs emits exactly the brute-force pair set
    (distinct unigrams, containment = |a ∩ b| / |a| >= 0.8), value for
    value."""
    vocab = [f"tok{i}" for i in range(30)]
    rows = []
    for i in range(60):
        # overlapping sliding windows of the vocab -> plenty of true
        # pairs at varying containment, sizes 5..12; two blocks so the
        # block boundary is exercised too
        lo = (i * 3) % 25
        sz = 5 + (i % 8)
        toks = [vocab[(lo + j) % 30] for j in range(sz)]
        # sprinkle duplicates in-text (distinctness must dedupe them)
        rows.append((i, " ".join(toks + toks[:2]), f"blk{i % 2}"))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")

    want = py_set_similarity_pairs(rows, 1, 0.8, "containment")
    assert len(want) >= 10  # the corpus must actually plant pairs
    assert _containment(docs, 1, 0.8) == want


def _hot_block_rows(seed: int = 11) -> list[tuple]:
    """60 documents cut from one shared token stream (so unigrams AND
    trigrams overlap), 45 of them in one hot block, the rest spread over
    three small blocks, plus degenerate rows (NULL block, NULL, blank
    and one-token texts), with case and whitespace noise the JVM
    normalization must fold."""
    import random

    rng = random.Random(seed)
    stream = [f"w{rng.randrange(14)}" for _ in range(400)]
    rows = []
    for i in range(60):
        lo = rng.randrange(0, 340)
        toks = stream[lo : lo + rng.randint(3, 40)]
        if i % 7 == 0:
            toks = toks + toks[:3]  # repeated grams must count once
        text = "  ".join(t.upper() if i % 5 == 0 else t for t in toks)
        blk = "hot" if i < 45 else f"b{i % 3}"
        rows.append((100 - i, text, blk))
    rows += [
        (500, " ".join(stream[:20]), None),
        (501, " ".join(stream[:20]), None),
        (502, None, "hot"),
        (503, "   ", "hot"),
        (504, "w1", "hot"),
    ]
    return rows


@pytest.mark.parametrize("tiles", ["default", "small"])
@pytest.mark.parametrize("n", [1, 3])
def test_blocked_pairs_match_mirror_hot_block(spark, monkeypatch, n, tiles):
    """Both operators equal the brute-force mirror bit for bit on a hot
    block. With the tile constants patched small, the 45-document block
    spans 7 row tiles and its shared vocabulary several vocabulary
    tiles, so the tiled count path is what is checked."""
    if tiles == "small":
        monkeypatch.setattr(dedup, "_PAIR_TILE_ROWS", 7)
        monkeypatch.setattr(dedup, "_PAIR_TILE_VOCAB", 3)
    rows = _hot_block_rows()
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    jt, ct = (0.3, 0.6) if n == 1 else (0.05, 0.2)
    want_j = py_set_similarity_pairs(rows, n, jt, "jaccard")
    want_c = py_set_similarity_pairs(rows, n, ct, "containment")
    assert len(want_j) >= 10 and len(want_c) >= 10
    assert _jaccard(docs, n, jt) == want_j
    assert _containment(docs, n, ct) == want_c


def test_simhash_xxhash_signatures_match_template_form(spark):
    """The shared exploded helper must reproduce the original HOF
    balance/pack template bit-for-bit for the xxhash64 family,
    including the empty-token (sh=0) and NULL-text (sh=NULL)
    contracts."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different words entirely here"),
            (4, "   "),
            (5, None),
            (6, "one"),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r["sh"] for r in dedup.simhash_signatures(docs).collect()}
    hashes = F.expr(
        "transform(filter(split(regexp_replace(lower(trim(text)),"
        " '\\\\s+', ' '), ' '), x -> x != ''), t -> xxhash64(t))"
    )
    want = {
        r["doc_id"]: r["sh"]
        for r in docs.select("doc_id", hashes.alias("hs"))
        .select(
            "doc_id",
            F.expr(dedup._SIMHASH_BALANCE_EXPR.format(hs="hs")).alias("bal"),
        )
        .select(
            "doc_id", F.expr(dedup._SIMHASH_PACK_EXPR.format(bal="bal")).alias("sh")
        )
        .collect()
    }
    assert got == want
    assert got[4] == 0 and got[5] is None and got[1] != got[3]


def test_simhash_fast_recall_report_planted(spark):
    """Planted corpus: one exact-dup pair (whitespace/case variants of
    the same normalized text), one exact-dup TRIPLE, near-dups, and a
    NULL text. The report must count groups/pairs exactly and certify
    all three invariants."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, "  THE   quick brown fox jumps over the lazy dog again and again "),
        (3, "alpha beta gamma delta epsilon zeta eta theta"),
        (4, "alpha beta gamma delta epsilon zeta eta theta"),
        (5, "ALPHA beta gamma delta epsilon zeta eta theta"),
        (6, base.replace("dog", "cat")),  # near-dup of 1/2, not exact
        (7, "completely unrelated content lives here with other words"),
        (8, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = dedup.simhash_fast_recall_report(docs, max_hamming=3, n_chunks=4).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_docs"] == 7  # NULL text excluded
    assert r["n_exact_dup_groups"] == 2  # {1,2} and {3,4,5}
    assert r["n_exact_dup_pairs"] == 1 + 3
    assert r["exact_dups_all_found"] is True
    assert r["pairs_within_bound"] is True
    assert r["pairs_ordered"] is True


def test_simhash_fast_recall_report_degenerate(spark):
    # all-NULL corpus: zero docs, zero groups, invariants vacuously true
    docs = spark.createDataFrame(
        [(1, None), (2, None)], "doc_id bigint, text string"
    )
    r = dedup.simhash_fast_recall_report(docs).collect()[0]
    assert r["n_docs"] == 0
    assert r["n_exact_dup_groups"] == 0 and r["n_exact_dup_pairs"] == 0
    assert r["exact_dups_all_found"] is True
    assert r["pairs_within_bound"] is True
    assert r["pairs_ordered"] is True


_DEGENERATE_DOCS = [
    (1, "alpha beta gamma delta", None),  # NULL block key
    (2, "alpha beta gamma delta", None),  # same text, NULL block key
    (3, "alpha beta gamma delta", "web"),
    (4, None, "web"),
    (5, "   ", "web"),
    (6, "", "web"),
    (7, "alpha beta", "web"),  # shorter than a trigram
    (8, "alpha beta gamma delta", "solo"),  # the only doc of its block
]


@pytest.mark.parametrize("n", [1, 3])
def test_blocked_pairs_degenerate_contract(spark, n):
    """Both blocked operators: a NULL block key pairs with nothing (the
    equi-join semantics, not a NULL group), NULL/blank/shorter-than-n
    texts give no rows, a one-document block gives no rows, and an
    empty input gives an empty result with the output schema."""
    schema = "doc_id bigint, text string, source string"
    docs = spark.createDataFrame(_DEGENERATE_DOCS, schema)
    jac = _jaccard(docs, n, 0.0)
    cont = _containment(docs, n, 0.6)
    if n == 1:
        # only docs 3 and 7 share a non-NULL block with usable text
        assert jac == {(3, 7): 0.5}
        assert cont == {(7, 3): 1.0}
    else:
        assert jac == {} and cont == {}

    empty = spark.createDataFrame([], schema)
    ej = dedup.jaccard_pairs(empty, block_col="source", shingle_n=n)
    ec = dedup.containment_pairs(empty, block_col="source", shingle_n=n)
    assert ej.count() == 0 and ec.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in ej.schema] == [
        ("doc_a", "bigint"), ("doc_b", "bigint"), ("jaccard", "double")
    ]
    assert [(f.name, f.dataType.simpleString()) for f in ec.schema] == [
        ("doc_id", "bigint"), ("container_id", "bigint"), ("containment", "double")
    ]
