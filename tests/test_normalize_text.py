"""normalize_text: NFC + zero-width/control/whitespace cleanup parity
with an independent Python reference on adversarial unicode fixtures."""

import re
import unicodedata

import pytest

from probability_of_buying_two_products_together_hadoop_project_spark.operators import (
    text as text_ops,
)


_ZW = dict.fromkeys(map(ord, "\u200b\u200c\u200d\ufeff"), None)
_CTRL = re.compile(r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]")
_WS = re.compile(r"[ \t\n\r\f\v]+")


def ref(t):
    """Pure-Python mirror of normalize_text's cleaning rule."""
    if t is None:
        return None
    t = unicodedata.normalize("NFC", t).translate(_ZW).replace("\xa0", " ")
    return _WS.sub(" ", _CTRL.sub(" ", t)).strip()


CASES = [
    # decomposed accent -> NFC composes it
    ("café latte", "café latte"),
    # zero-widths vanish entirely (no space left behind)
    ("ab​cd‌ e‍f﻿g", "abcd efg"),
    # NBSP becomes a plain space, then collapses with neighbors
    ("a\xa0\xa0b", "a b"),
    # control chars become spaces, runs collapse, ends trim
    ("\x00x\x01\x02y\x7f", "x y"),
    ("  tabs\t\tand\nnewlines\r\n  ", "tabs and newlines"),
    # already-clean ASCII is untouched
    ("hello world", "hello world"),
    # all-junk collapses to empty
    ("​\x00 \t", ""),
    # NFC keeps singletons composed (precomposed stays itself)
    ("café", "café"),
]


def test_normalize_text_cases_and_flags(spark):
    rows = [(i, dirty) for i, (dirty, _) in enumerate(CASES)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r for r in text_ops.normalize_text(df).collect()}
    for i, (dirty, want) in enumerate(CASES):
        r = got[i]
        assert r.text == want, (dirty, r.text, want)
        assert r.n_chars_raw == len(dirty)
        assert r.n_chars_clean == len(want)
        assert r.changed == int(want != dirty)


def test_normalize_text_null_and_idempotent(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "ok then")], "doc_id bigint, text string"
    )
    got = {r.doc_id: r for r in text_ops.normalize_text(df).collect()}
    assert got[1].text is None and got[1].changed is None
    assert got[2].changed == 0
    # idempotence: cleaning clean output changes nothing
    out = text_ops.normalize_text(
        spark.createDataFrame(
            [(i, w) for i, (_, w) in enumerate(CASES)], "doc_id bigint, text string"
        )
    ).collect()
    assert all(r.changed == 0 for r in out)


def test_normalize_matches_python_unicodedata_on_random_junk(spark):
    import random

    rng = random.Random(21)
    pool = (
        [chr(c) for c in range(0x20, 0x7F)]
        + ["́", "̈", "​", "\xa0", "\t", "\n", "\x03", "é", "ß", "中"]
    )
    texts = [
        "".join(rng.choice(pool) for _ in range(rng.randint(0, 80)))
        for _ in range(200)
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got = {r.doc_id: r.text for r in text_ops.normalize_text(df).collect()}
    for i, t in enumerate(texts):
        assert got[i] == ref(t)


def test_normalize_ascii_fast_path_equals_udf_path(spark):
    # the JVM branch (pure ASCII incl. control chars and the \x0B/\f
    # oddballs) and the pandas-UDF branch (non-ASCII rows) must both
    # equal the pure-Python mirror on all four output columns, and the
    # union must route each row once
    import random

    rng = random.Random(9)
    ascii_pool = [chr(c) for c in range(0x00, 0x80)]
    texts = [
        "".join(rng.choice(ascii_pool) for _ in range(rng.randint(0, 60)))
        for _ in range(150)
    ] + ["", "   ", "\x0b\x0c", "plain", None, "é mixed in", "中文 doc"]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got = {
        r.doc_id: (r.text, r.n_chars_raw, r.n_chars_clean, r.changed)
        for r in text_ops.normalize_text(df).collect()
    }

    def mirror(t):
        if t is None:
            return (None, None, None, None)
        want = ref(t)
        return (want, len(t), len(want), int(want != t))

    assert got == {i: mirror(t) for i, t in enumerate(texts)}


def test_normalize_fast_path_plan_has_no_exchange_and_splits_udf(spark, sf_oracle):
    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet")
    plan = (
        text_ops.normalize_text(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    # exactly one python-UDF branch (the non-ASCII side), not two
    assert plan.count("ArrowEvalPython") == 1


def test_oov_rate_exact_counts(spark):
    docs = spark.createDataFrame(
        [
            ("a", "the cat sat on the mat"),
            ("a", "the dog Ran"),
            ("b", "zyx qqq the"),
        ],
        "source string, text string",
    )
    vocab = spark.createDataFrame(
        [("the",), ("cat",), ("dog",), ("ran",)], "token string"
    )
    got = {
        r.source: r
        for r in text_ops.oov_rate(docs, vocab, ("source",)).collect()
    }
    # source a: tokens [the cat sat on the mat the dog ran] -> 9 tokens,
    # oov occurrences: sat, on, mat = 3; types {the cat sat on mat dog ran}=7,
    # oov types {sat on mat}=3
    assert (got["a"].n_tokens, got["a"].n_oov_tokens) == (9, 3)
    assert (got["a"].n_types, got["a"].n_oov_types) == (7, 3)
    assert got["a"].oov_token_rate == 3 / 9
    # source b: zyx qqq the -> 2/3 occurrences oov, 2/3 types oov
    assert (got["b"].n_tokens, got["b"].n_oov_tokens) == (3, 2)
    assert got["b"].oov_type_rate == 2 / 3
    import pytest as _pt

    with _pt.raises(ValueError):
        text_ops.oov_rate(docs, vocab, ("n_tokens",))
