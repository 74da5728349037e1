"""r12 shared-evidence pins: the `rounds` injection parameter of the
BPE operators and the registry-level DSIR / substring-span caches must
be result-invisible — the injected/pinned relation is the identical
relation each consumer would have built internally."""

import pytest
from pyspark.sql import functions as F

from probability_of_buying_two_products_together_hadoop_project_spark import (
    registry,
)
from probability_of_buying_two_products_together_hadoop_project_spark.operators import (
    dedup,
    text,
)


def _rows(df, order_cols):
    return [tuple(r) for r in df.orderBy(*order_cols).collect()]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the cat sat on the mat the cat sat on the mat again", "en"),
            (2, "the cat sat on the mat the cat sat on the mat again", "en"),
            (3, "banana banana abab ababab spark join spark join", "de"),
            (4, "completely unique text with no repeats whatsoever here", "en"),
            (5, "x yy aaa aaaaa banana spark", "fr"),
        ],
        "doc_id long, text string, lang string",
    )


def test_bpe_rounds_injection_is_result_invisible(docs):
    """bpe_learn_merges / bpe_encode_words with a precomputed `rounds`
    tuple return row-identical results to the self-building path."""
    rounds = text._bpe_rounds(docs, 5, "text")
    learn_direct = _rows(text.bpe_learn_merges(docs, 5), ["round"])
    learn_inj = _rows(text.bpe_learn_merges(docs, 5, rounds=rounds), ["round"])
    assert learn_inj == learn_direct and len(learn_inj) == 5
    enc_direct = _rows(text.bpe_encode_words(docs, 5), ["word"])
    enc_inj = _rows(text.bpe_encode_words(docs, 5, rounds=rounds), ["word"])
    assert enc_inj == enc_direct and len(enc_inj) > 0


def test_byte_entropy_null_text_contract(spark):
    """The r12 mapInPandas histogram path must preserve the NULL/empty
    contract of the explode formulation: both yield band 'empty' with
    null entropy and 0 distinct bytes (a NULL text encodes to NULL
    n_bytes; the left join supplies the row)."""
    from probability_of_buying_two_products_together_hadoop_project_spark.operators import (
        text as t,
    )

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "abc")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in t.byte_entropy(df).collect()}
    assert len(got) == 3
    for i in (1, 2):
        assert got[i].band == "empty"
        assert got[i].entropy is None
        assert got[i].n_distinct_bytes == 0
    assert got[3].n_bytes == 3 and got[3].n_distinct_bytes == 3


def test_registry_caches_return_identical_relation(spark, sf_smoke):
    """The pinned _dsir_lw / _substr_spans / _bpe_evidence relations
    equal what the operators build directly on the same inputs, and a
    second call returns the SAME cached object (no rebuild)."""
    d = registry._t(spark, sf_smoke, "documents")

    lw = registry._dsir_lw(spark, sf_smoke)
    assert registry._dsir_lw(spark, sf_smoke) is lw
    direct = text.dsir_importance(d, F.col("lang") == "en")
    assert _rows(lw, ["doc_id"]) == _rows(direct, ["doc_id"])

    spans = registry._substr_spans(spark, sf_smoke)
    assert registry._substr_spans(spark, sf_smoke) is spans
    direct_spans = dedup.duplicated_substring_spans(d, gram=8)
    order = ["doc_id", "span_start"]
    assert _rows(spans, order) == _rows(direct_spans, order)

    pair = registry._bpe_evidence(spark, sf_smoke)
    assert registry._bpe_evidence(spark, sf_smoke) is pair
    merges, seqs = pair
    direct_merges, direct_seqs = text._bpe_rounds(d, 12, "text")
    assert _rows(merges, ["round"]) == _rows(direct_merges, ["round"])
    assert _rows(seqs, ["word"]) == _rows(direct_seqs, ["word"])

    # exactly one store entry per pin name, however often it was called
    names = [k[2] for k in registry._PIN_STORE]
    for pin in ("dsir_lw", "substr_spans", "bpe_evidence"):
        assert names.count(pin) == 1
