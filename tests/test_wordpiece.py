"""WordPiece greedy encode (text.wordpiece_greedy_encode): a pure-Python
longest-match mirror, UNK/long-word contracts, and the loud
piece-length guard."""

import pytest

from probability_of_buying_two_products_together_hadoop_project_spark.operators import text


def py_greedy(target, vocab, max_word_len=48):
    if len(target) > max_word_len:
        return "[UNK]", 1, True
    pieces, pos = [], 0
    while pos < len(target):
        best = None
        for ln in range(len(target) - pos, 0, -1):
            if target[pos : pos + ln] in vocab:
                best = ln
                break
        if best is None:
            return "[UNK]", 1, True
        pieces.append(target[pos : pos + best])
        pos += best
    return " ".join(pieces), len(pieces), False


def _run(spark, words, vocab, **kw):
    wdf = spark.createDataFrame(
        [(w, c, w) for w, c in words], "word string, cnt long, target string"
    )
    vdf = spark.createDataFrame([(p,) for p in vocab], "piece string")
    rows = text.wordpiece_greedy_encode(wdf, vdf, **kw).collect()
    return {r.word: r for r in rows}


def test_wordpiece_matches_python_mirror(spark):
    vocab = {"un", "believ", "able", "a", "b", "l", "e", "u", "n", "i", "v"}
    words = [("unbelievable", 3), ("able", 2), ("nba", 1), ("vile", 1)]
    got = _run(spark, words, vocab)
    for w, c in words:
        seq, n, unk = py_greedy(w, vocab)
        r = got[w]
        assert (r.wp_seq, r.n_pieces, bool(r.is_unk)) == (seq, n, unk), w
        assert r.cnt == c
    # greedy longest-first: "unbelievable" -> un believ able
    assert got["unbelievable"].wp_seq == "un believ able"


def test_wordpiece_unk_on_unmatchable_char(spark):
    got = _run(spark, [("cab", 1)], {"c", "a"})  # no 'b' piece
    r = got["cab"]
    assert r.wp_seq == "[UNK]" and r.n_pieces == 1 and r.is_unk == 1


def test_wordpiece_long_word_is_unk(spark):
    w = "x" * 60
    got = _run(spark, [(w, 1), ("x", 1)], {"x"}, max_word_len=48)
    assert got[w].is_unk == 1 and got[w].wp_seq == "[UNK]"
    assert got["x"].wp_seq == "x" and got["x"].is_unk == 0


def test_wordpiece_greedy_can_differ_from_optimal(spark):
    # greedy takes "ab" then fails on lone "c" unless "c" in vocab;
    # with vocab {ab, abc-less} the classic greedy trap:
    vocab = {"ab", "a", "bc"}
    got = _run(spark, [("abc", 1)], vocab)
    # greedy: "ab" + no piece for "c" -> UNK (optimal "a bc" exists)
    assert got["abc"].is_unk == 1


def test_wordpiece_piece_length_guard(spark):
    with pytest.raises(ValueError):
        _run(spark, [("hi", 1)], {"h", "i", "longpieceover"}, max_piece_len=4)


@pytest.mark.parametrize("large", [False, True], ids=["small_vocab", "vocab_1500"])
def test_wordpiece_matches_mirror_random_words(spark, large):
    """Randomized words over a vocab with prefix overlaps, multi-char
    pieces, UNK and exhaustion cases equal the pure-Python mirror; the
    large case pads the vocabulary past 1024 pieces with strings no
    word contains."""
    import random

    rng = random.Random(12)
    vocab = {"a", "b", "c", "ab", "bc", "abc", "cab", "x"}
    if large:
        vocab |= {f"q{i:04d}" for i in range(1500)}
    words = []
    for i in range(40):
        w = "".join(rng.choice("abcxz") for _ in range(rng.randint(1, 10)))
        words.append((f"{w}#{i}", 1, w))
    got = _encode_rows(spark, words, sorted(vocab))
    assert got == sorted(
        ((w, c, *_mirror_row(t, vocab)) for w, c, t in words), key=repr
    )


def _encode_rows(spark, words, vocab, **kw):
    wdf = spark.createDataFrame(words, "word string, cnt long, target string")
    vdf = spark.createDataFrame([(p,) for p in vocab], "piece string")
    out = text.wordpiece_greedy_encode(wdf, vdf, **kw).collect()
    return sorted((tuple(r) for r in out), key=repr)


def test_wordpiece_null_and_empty_target(spark):
    # a NULL target keeps a NULL is_unk; an empty one is a zero-step
    # encode; both report the one-piece count of an empty sequence
    got = _encode_rows(spark, [("n", 1, None), ("e", 2, "")], ["a"])
    assert got == [("e", 2, "", 1, 0), ("n", 1, "", 1, None)]


def test_wordpiece_empty_vocab_and_null_piece(spark):
    words = [("ab", 1, "ab"), ("e", 1, "")]
    assert _encode_rows(spark, words, []) == [
        ("ab", 1, "[UNK]", 1, 1),
        ("e", 1, "", 1, 0),
    ]
    # a NULL piece matches nothing and is ignored by the length guard
    assert _encode_rows(spark, words, [None, "a", "b"], max_piece_len=1) == [
        ("ab", 1, "a b", 2, 0),
        ("e", 1, "", 1, 0),
    ]


def test_wordpiece_duplicate_words(spark):
    # one output row per input row, duplicates included
    words = [("ab", 1, "ab"), ("ab", 1, "ab"), ("ab", 5, "ab")]
    assert _encode_rows(spark, words, ["a", "b", "ab"]) == [
        ("ab", 1, "ab", 1, 0),
        ("ab", 1, "ab", 1, 0),
        ("ab", 5, "ab", 1, 0),
    ]


def test_wordpiece_non_ascii_and_astral_pieces(spark):
    # lengths and positions count code points, astral ones included
    vocab = ["é😀", "😀😀", "é", "x"]
    targets = ["é😀😀😀", "éé", "😀é", "xé😀x", "😀"]
    words = [(t, 1, t) for t in targets]
    got = _encode_rows(spark, words, vocab)
    assert got == sorted(
        ((t, 1, *_mirror_row(t, set(vocab))) for t in targets), key=repr
    )
    assert ("é😀😀😀", 1, "é😀 😀😀", 2, 0) in got
    with pytest.raises(ValueError):
        _run(spark, [("😀", 1)], {"😀😀😀"}, max_piece_len=2)


def _mirror_row(target, vocab):
    seq, n, unk = py_greedy(target, vocab)
    return seq, n, int(unk)
