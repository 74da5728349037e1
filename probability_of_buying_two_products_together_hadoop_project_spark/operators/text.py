"""Text-analysis operators for the training-data pipeline surface.

All hot-path logic is JVM-side ``pyspark.sql.functions`` expressions
(whole-stage codegen); no Python UDFs. Each operator is designed to be
SQL-expressible so the DuckDB oracle can replicate it exactly.

Scale posture: every function here is a narrow per-row projection — no
shuffle at all; at 100 TB these run at parquet-scan speed with column
pruning (only ``text`` + projected columns are read).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StringType, StructField, StructType

# Tiny multilingual stopword lists for the language-ID heuristic.
# Deterministic and oracle-replicable; NOT a real language detector.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "fr": ("le", "la", "de", "et", "un", "est"),
    "es": ("el", "la", "de", "y", "un", "es"),
    "de": ("der", "die", "das", "und", "ist"),
}

# BPE-ish token pattern: runs of word chars, or single non-space symbols —
# approximates subword pre-tokenization (public GPT-2 style splitting,
# simplified to an RE2/Java-compatible common subset).
TOKEN_PATTERN = r"[a-zA-Z0-9_]+|[^a-zA-Z0-9_\s]"


def tokens(text: Column) -> Column:
    """Whitespace tokens of trimmed text (empty text -> empty array)."""
    t = F.trim(text)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Count of BPE-ish tokens via regexp extraction (JVM-side)."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_PATTERN), F.lit(0)))


def char_classes(text: Column) -> dict[str, Column]:
    """Character-class counts used by quality scoring."""
    n = F.length(text)
    alpha = n - F.length(F.regexp_replace(text, r"[A-Za-z]", ""))
    digit = n - F.length(F.regexp_replace(text, r"[0-9]", ""))
    space = n - F.length(F.regexp_replace(text, r"\s", ""))
    punct = n - alpha - digit - space
    return {"n_chars2": n, "n_alpha": alpha, "n_digit": digit,
            "n_space": space, "n_punct": punct}


def stopword_hits(text: Column, words: tuple[str, ...]) -> Column:
    """How many tokens are in `words` (multiplicity counted)."""
    toks = tokens(F.lower(text))
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token/char statistics."""
    t = F.col(text_col)
    toks = tokens(t)
    cc = char_classes(t)
    return docs.select(
        "doc_id",
        token_count(t).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length(t).alias("n_chars_exact"),
        cc["n_punct"].alias("n_punct"),
        cc["n_digit"].alias("n_digit"),
        (F.length(t).cast("double") / F.greatest(token_count(t), F.lit(1)).cast("double")
         ).alias("avg_token_len"),
    )


def quality_expr(t: Column) -> Column:
    """The quality score as a single column expression (shared by
    quality_score and curate_corpus)."""
    toks = tokens(t)
    n_tok = F.size(toks).cast("double")
    n_tok_safe = F.greatest(n_tok, F.lit(1.0))
    cc = char_classes(t)
    n_chars = F.length(t).cast("double")
    n_chars_safe = F.greatest(n_chars, F.lit(1.0))
    stop_ratio = stopword_hits(t, LANG_MARKERS["en"]).cast("double") / n_tok_safe
    punct_ratio = cc["n_punct"].cast("double") / n_chars_safe
    digit_ratio = cc["n_digit"].cast("double") / n_chars_safe
    diversity = F.size(F.array_distinct(toks)).cast("double") / n_tok_safe
    len_band = (
        F.when((n_tok >= 20) & (n_tok <= 1000), F.lit(1.0))
        .when(n_tok >= 5, F.lit(0.5))
        .otherwise(F.lit(0.0))
    )
    return (
        F.lit(0.3) * len_band
        + F.lit(0.2) * F.least(stop_ratio * 4, F.lit(1.0))
        + F.lit(0.2) * (F.lit(1.0) - F.least(punct_ratio * 10, F.lit(1.0)))
        + F.lit(0.1) * (F.lit(1.0) - F.least(digit_ratio * 10, F.lit(1.0)))
        + F.lit(0.2) * diversity
    )


def lang_pred_expr(t: Column) -> Column:
    """The language-ID prediction as a single column expression — same
    hit counting and deterministic tie-break as :func:`lang_id`."""
    hits = {
        lang: stopword_hits(t, ws) for lang, ws in sorted(LANG_MARKERS.items())
    }
    best = F.greatest(*hits.values())
    pred = F.lit("und")
    for lang in reversed(sorted(hits)):
        pred = F.when((hits[lang] == best) & (best >= 2), F.lit(lang)).otherwise(
            pred
        )
    return pred


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality score in [0,1]: length band + stopword ratio +
    low punctuation/digit ratio + token diversity. Deterministic double
    arithmetic from integer counts (oracle-replicable)."""
    t = F.col(text_col)
    return docs.select(
        "doc_id",
        token_count(t).cast("long").alias("n_tokens"),
        quality_expr(t).alias("quality"),
    )


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram/stopword language-ID heuristic: argmax of marker-word hit
    ratios; 'und' (undetermined) when no list scores >= 2 hits.

    Deterministic tie-break: higher hits wins, then lexicographic language
    code. Oracle-replicable as a CASE expression.
    """
    t = F.lower(F.col(text_col))
    hit_cols = [
        stopword_hits(t, ws).alias(f"hits_{lang}")
        for lang, ws in sorted(LANG_MARKERS.items())
    ]
    scored = docs.select("doc_id", *hit_cols)
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    pred = F.lit("und")
    # reversed so earlier (lexicographically smaller) languages win ties
    for lang in reversed(langs):
        pred = F.when(
            (F.col(f"hits_{lang}") == best) & (best >= 2), F.lit(lang)
        ).otherwise(pred)
    return scored.select(
        "doc_id", *[F.col(f"hits_{lang}") for lang in langs], pred.alias("pred_lang")
    )


def winnow_fingerprints(
    docs: DataFrame, text_col: str = "text", k: int = 5, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (public algorithm: Schleimer,
    Wilkerson & Aiken, SIGMOD 2003): rolling k-gram hashes over normalized
    text; each window of ``w`` consecutive hashes contributes its minimum;
    the distinct selected hashes are the document's fingerprint set.

    Guarantees: any shared substring of length >= k + w - 1 between two
    documents yields at least one shared fingerprint — the basis for
    plagiarism/near-dup detection that survives local edits.

    One narrow pass, all JVM-side array expressions (the rolling hash is
    xxhash64 of each k-gram substring); no shuffle until the consumer
    aggregates. Output: (doc_id, fp) exploded pairs.
    """
    # Expression-shape rule this function is built around: anything
    # referenced INSIDE a higher-order-function lambda is re-evaluated per
    # element (projection collapse inlines it), so e.g.
    # ``transform(seq, i -> xxhash64(substring(norm, i, k)))`` re-runs the
    # normalize regex once per character — quadratic (measured 400+ s on
    # 500 docs). Instead, every heavy expression below appears only as a
    # HOF *input* (evaluated once per row), and the k-gram / window
    # combines are zip_with cascades over shifted slices whose lambdas
    # touch only their element arguments.

    def shifted(arr: Column, j: int, length: Column) -> Column:
        return F.slice(arr, 1 + j, length)

    def zip_fold(arrs: list[Column], combine) -> Column:
        out = arrs[-1]
        for a in reversed(arrs[:-1]):
            out = F.zip_with(a, out, combine)
        return out

    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    d = docs.select("doc_id", norm.alias("_norm"))
    # per-char hashes; k-gram hash = xxhash64-fold of k consecutive values.
    # split('', -1) emits a trailing empty string (Java split semantics);
    # drop it so documents don't hash a phantom character that would shift
    # the final k-grams off the canonical winnowing definition.
    chars = F.filter(F.split(F.col("_norm"), ""), lambda c: c != F.lit(""))
    ch = F.transform(chars, lambda c: F.xxhash64(c))
    glen = F.greatest(F.size(ch) - k + 1, F.lit(1))
    grams = zip_fold(
        [shifted(ch, j, glen) for j in range(k)],
        lambda x, y: F.xxhash64(x, y),
    )
    g = d.select("doc_id", grams.alias("_g"))
    wlen = F.greatest(F.size(F.col("_g")) - w + 1, F.lit(1))
    mins = zip_fold(
        [shifted(F.col("_g"), j, wlen) for j in range(w)],
        lambda x, y: F.least(x, y),
    )
    return g.select(
        "doc_id", F.explode(F.array_distinct(mins)).alias("fp")
    )


def winnow_fingerprints_verified(
    docs: DataFrame, text_col: str = "text", k: int = 5, w: int = 4
) -> DataFrame:
    """The hash-pinned twin of :func:`winnow_fingerprints` (the repo's
    minhash/simhash `_verified` pattern): identical winnowing structure,
    but k-gram hashes are md5 HEX STRINGS, whose lexicographic min both
    engines compute identically — so a DuckDB oracle regenerates the
    exact fingerprint sets (substr+md5 per position, sliding list_min)
    and the driver hash pins the whole selection pipeline cross-engine.

    Docs shorter than ``k + w - 1`` normalized chars are excluded in
    both engines — below that length the winnowing guarantee is void
    anyway, and the clamped-slice edge semantics would be the only
    engine-specific part.

    Same expression-shape rule as the xxhash64 version: every heavy
    expression is a HOF input, never re-evaluated inside a lambda; the
    gram strings build from shifted char slices via zip_with concat.
    """

    def shifted(arr: Column, j: int, length: Column) -> Column:
        return F.slice(arr, 1 + j, length)

    def zip_fold(arrs: list[Column], combine) -> Column:
        out = arrs[-1]
        for a in reversed(arrs[:-1]):
            out = F.zip_with(a, out, combine)
        return out

    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    d = docs.select("doc_id", norm.alias("_norm")).filter(
        F.length("_norm") >= k + w - 1
    )
    chars = F.filter(F.split(F.col("_norm"), ""), lambda c: c != F.lit(""))
    glen = F.size(chars) - (k - 1)
    gram_strs = zip_fold(
        [shifted(chars, j, glen) for j in range(k)],
        lambda x, y: F.concat(x, y),
    )
    g = d.select(
        "doc_id", F.transform(gram_strs, lambda s: F.md5(s)).alias("_g")
    )
    wlen = F.size(F.col("_g")) - (w - 1)
    mins = zip_fold(
        [shifted(F.col("_g"), j, wlen) for j in range(w)],
        lambda x, y: F.least(x, y),
    )
    return g.select("doc_id", F.explode(F.array_distinct(mins)).alias("fp"))


def top_distinctive_terms(
    docs: DataFrame, k: int = 3, text_col: str = "text"
) -> DataFrame:
    """Per-document top-k distinctive terms: TF-IDF's ranking decision
    made on integer statistics only — order by (term frequency desc,
    document frequency asc, term asc) — so results are bit-deterministic
    across engines (no float log/idf in the ordering).

    Scale posture: two hash aggregations (doc-term TF, term DF) and one
    rank window over TF rows; every shuffle key's cardinality grows with
    the corpus, and the DF side joins back on term (shuffle join — term
    cardinality is corpus-scale, deliberately not broadcast).
    """
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id",
        F.explode(
            tokens(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "))
        ).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term")
    )
    return (
        tf.join(df_, "term")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("doc_id", "term", "tf", "df", "rk")
    )


def normalized_tokens(text_col: str = "text") -> Column:
    """Whitespace tokens of whitespace-normalized lowered text — the
    shared tokenization contract every corpus operator (and its DuckDB
    oracle twin) uses."""
    return tokens(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    )


def ngram_array(tk: Column, n: int) -> Column:
    """Word n-grams of a token array as space-joined strings, built by a
    zip_with cascade over shifted slices of the (hoisted) token array —
    the HOF rule: lambdas touch only their element args, so the token
    array is evaluated once, not once per lambda (quadratic otherwise).
    Caller filters ``size(tk) >= n`` (shorter arrays yield empty)."""
    ln = F.size(tk) - (n - 1)
    grams: Column = F.slice(tk, 1, ln)
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(tk, 1 + j, ln),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    return grams


def corpus_ngrams(
    docs: DataFrame, n: int = 2, k: int = 50, text_col: str = "text"
) -> DataFrame:
    """Corpus-level top-k word n-grams with counts (multiplicity kept) —
    the corpus-statistics pass of a training pipeline (contamination
    screens, boilerplate detection, tokenizer diagnostics).

    Total order (count desc, ngram asc) makes the limit deterministic.
    n-grams are built by a zip_with cascade over shifted slices of the
    hoisted token array (the HOF rule: lambdas touch only their element
    args). One hash aggregation; the result set is k rows.
    """
    toked = docs.select(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ").alias("_nm")
    ).select(tokens(F.col("_nm")).alias("_tk"))
    out = (
        toked.filter(F.size("_tk") >= n)
        .select(F.explode(ngram_array(F.col("_tk"), n)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("ngram"))
        .limit(k)
    )
    return out


def repetition_stats(
    docs: DataFrame,
    text_col: str = "text",
    top_token_thresh: float = 0.2,
    dup_bigram_thresh: float = 0.3,
) -> DataFrame:
    """Gopher-style repetition screen (cf. Rae et al. 2021 §A1.1): the
    mass of the most frequent token and the duplicate-bigram fraction —
    degenerate/boilerplate generations repeat tokens and phrases far
    above natural-text rates, and these two ratios catch both modes.

    Per doc: ``top_token_frac`` = multiplicity of the most frequent
    whitespace token / n_tokens; ``dup_bigram_frac`` = 1 - distinct
    bigrams / total bigrams (0 when fewer than 2 tokens);
    ``is_repetitive`` flags either ratio over its threshold.

    Plan: ZERO exchanges — both ratios are per-row array expressions
    (a first cut used explode + two hash aggs + a join: 4 exchanges for
    per-doc facts that never needed to leave the row). The top-token
    count is the longest run of equal adjacent elements in the SORTED
    token array — one O(n log n) sort plus one O(n) aggregate per row,
    robust for degenerate million-token docs (unlike a
    count-per-distinct formulation, which is O(distinct x n) per row).
    Ratios are exact integer-derived doubles rounded to 4 dp,
    oracle-replicable.
    """
    toked = docs.select(
        F.col("doc_id"),
        tokens(F.col(text_col)).alias("_tk"),
        # hoisted: referenced by the run-length aggregate's lambda
        F.array_sort(tokens(F.col(text_col))).alias("_srt"),
    )
    return _repetition_screen(toked, top_token_thresh, dup_bigram_thresh)


def _repetition_screen(
    toked: DataFrame,
    top_token_thresh: float,
    dup_bigram_thresh: float,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Repetition ratios over a frame that already carries the hoisted
    ``_tk`` / ``_srt`` arrays (see the expression-shape note above);
    ``carry`` columns pass through untouched so a composed pipeline
    (curate_corpus) can keep this a single scan."""
    n = F.size("_tk")
    # longest run of equal adjacent tokens in the sorted array =
    # multiplicity of the most frequent token; state = (current run,
    # best run) folded over positions 2..n
    topc = F.when(n == 0, F.lit(0)).otherwise(
        F.expr(
            """
            aggregate(
              sequence(2, greatest(size(_srt), 2)),
              named_struct('cur', 1, 'best', 1),
              (acc, i) -> IF(i > size(_srt), acc,
                IF(element_at(_srt, i) = element_at(_srt, i - 1),
                   named_struct('cur', acc.cur + 1,
                                'best', greatest(acc.best, acc.cur + 1)),
                   named_struct('cur', 1, 'best', acc.best))),
              acc -> acc.best)
            """
        )
    )
    ln = n - 1
    grams = F.zip_with(
        F.slice(F.col("_tk"), 1, ln),
        F.slice(F.col("_tk"), 2, ln),
        lambda x, y: F.concat(x, F.lit("\x1f"), y),
    )
    with_cols = toked.select(
        "doc_id",
        *carry,
        n.cast("long").alias("n_tokens"),
        topc.alias("_topc"),
        F.when(n >= 2, grams).alias("_bg"),
    )
    top_frac = F.round(
        F.col("_topc").cast("double") / F.greatest("n_tokens", F.lit(1)), 4
    )
    dup_frac = F.round(
        F.coalesce(
            F.lit(1.0)
            - F.size(F.array_distinct("_bg")).cast("double") / F.size("_bg"),
            F.lit(0.0),
        ),
        4,
    )
    return with_cols.select(
        "doc_id",
        *carry,
        "n_tokens",
        top_frac.alias("top_token_frac"),
        dup_frac.alias("dup_bigram_frac"),
        (
            (top_frac > top_token_thresh) | (dup_frac > dup_bigram_thresh)
        ).alias("is_repetitive"),
    )


def pseudonymize(
    df: DataFrame,
    id_col: str,
    text_col: str,
    placeholder: str = "<ID>",
    salt: str = "pepper",
) -> DataFrame:
    """Identifier anonymization for a text column: digit runs replaced by
    a placeholder, plus a STABLE surrogate so pseudonymized rows still
    join/dedup consistently across datasets — the standard PII-scrubbing
    shape of a training-data pipeline.

    The surrogate is a KEYED hash, sha256(salt || value): an unkeyed
    md5(value) over low-entropy identifiers ("Customer#000042") is
    trivially reversible by dictionary enumeration, so it would leak the
    very identifier it masks. With a secret salt the enumeration attack
    needs the key. In production, feed ``salt`` from a secret manager and
    rotate per dataset-release; the default here is a test fixture. This
    is linkage-consistent pseudonymization (same input -> same surrogate,
    by design), not anonymization — re-identification via linkage is
    still possible for anyone holding the salt.

    Narrow projection, no shuffle, engine-replicable (regexp + sha256).
    """
    c = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.regexp_replace(c, r"\d+", placeholder).alias("redacted"),
        F.sha2(F.concat(F.lit(salt), c), 256).alias("pseudonym"),
        F.size(F.regexp_extract_all(c, F.lit(r"\d+"), 0)).alias("n_masked_runs"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of normalized text (lowercase, collapsed
    whitespace) plus a cheap 8-hex prefix bucket for blocking."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    h = F.md5(norm)
    return docs.select(
        "doc_id",
        h.alias("fp"),
        F.substring(h, 1, 8).alias("fp_bucket"),
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 document ranking for a bag-of-words query — the lexical
    retrieval half of a training-data / RAG pipeline (Robertson-Spärck
    Jones probabilistic model, Okapi BM25 with the Lucene non-negative
    idf ``ln(1 + (N - df + 0.5)/(df + 0.5))``).

    Engine shape (all JVM expressions, no UDF):
    - token arrays are FILTERED to the query terms *before* explode, so
      the exploded row count is the number of query-term occurrences,
      not corpus token count — at 100 TB the explode stays proportional
      to matches;
    - df (docs-per-term) and the (N, avgdl) scalars are tiny aggregates
      broadcast back onto the per-(doc, term) tf rows: the corpus is
      never shuffled, only the tf rows (≤ matches) hash-partition once;
    - per-term partial scores are rounded to 6 decimals and summed as
      decimal(18,6) (order-independent, cross-engine exact), then the
      total rounds to 4 — the sort key is fully deterministic, with
      ``id_col`` as the tie-break so top-k is reproducible across
      engines and runs.
    """
    tk = normalized_tokens(text_col)
    toked = docs.select(F.col(id_col), tk.alias("_tk")).select(
        id_col,
        F.size("_tk").alias("dl"),
        F.filter(
            F.col("_tk"), lambda t: t.isin([x.lower() for x in terms])
        ).alias("_hits"),
    )
    stats = toked.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        toked.filter(F.size("_hits") > 0)
        .select(id_col, "dl", F.explode("_hits").alias("term"))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    part = idf * (
        F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    from ..functions.scalar import dsum

    return (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), F.round(part, 6).alias("_s"))
        .groupBy(id_col)
        .agg(F.round(dsum("_s", 6), 4).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def _gram_digests(
    frame: DataFrame, n: int, text_col: str, id_col: str
) -> DataFrame:
    """Distinct-per-doc word n-gram md5 digests: the narrow projection
    both decontamination variants reduce to (ships 32-hex digests, never
    gram text)."""
    tk = normalized_tokens(text_col)
    return (
        frame.select(F.col(id_col), tk.alias("_tk"))
        .filter(F.size("_tk") >= n)
        .select(
            id_col,
            F.explode(F.array_distinct(ngram_array(F.col("_tk"), n))).alias("_g"),
        )
        .select(id_col, F.md5("_g").alias("gram_md5"))
    )


def ngram_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination via exact n-gram overlap: flag corpus
    documents sharing any word n-gram with a benchmark/eval set (the
    published GPT-3 appendix-C style screen uses 13-grams; pick ``n``
    to the corpus — the synthetic test corpus' tiny vocabulary needs a
    smaller n to be non-vacuous).

    Engine shape: both sides reduce to DISTINCT md5(gram) digests — the
    join ships 32-hex digests, never gram text. The benchmark side is a
    deduplicated digest set, typically tiny vs the corpus (eval suites
    are MBs, corpora are TBs), and broadcasts; the corpus side stays a
    narrow per-row explode→distinct. Output: one row per contaminated
    corpus doc with its distinct shared-gram count (docs also in the
    benchmark set are excluded via anti-join on ``id_col``, not text
    equality, so exact-duplicate eval docs still flag).
    """
    bench_grams = _gram_digests(benchmark, n, text_col, id_col).select(
        "gram_md5"
    ).distinct()
    corpus_grams = _gram_digests(
        docs.join(benchmark.select(id_col), id_col, "left_anti"),
        n,
        text_col,
        id_col,
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "gram_md5")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def ngram_decontaminate_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    m_bits: int = 1 << 18,
    k_hashes: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``ngram_decontaminate`` for the regime where the benchmark digest
    set is too large to broadcast as rows (a full eval-suite union can
    reach 10^8+ distinct grams ≈ tens of GB of digests): identical
    output, but the corpus side is pre-filtered through a BLOOM FILTER
    built *as a DataFrame aggregation* before the exact join.

    Engine shape (all built-in expressions, no driver-side bitmap):

    1. each benchmark digest sets ``k_hashes`` bits of an ``m_bits``-bit
       filter; bit positions are ``pmod(xxhash64(seed_i, digest), m)``,
       folded into 64-bit words via ``bit_or`` aggregation — the filter
       is a (word_idx, bits) DataFrame of ``m/64`` rows (32 KiB of longs
       at the 2^18 default), broadcastable at ANY benchmark size;
    2. every corpus gram explodes into its k (word_idx, mask) probes,
       inner-joins the broadcast filter, and survives iff all k bits are
       set (``count == k``) — false-positive rate (1-e^{-kn/m})^k, so m
       is sized to the benchmark gram count (n), not the corpus;
    3. ONLY the surviving candidates (true overlaps + the fp fraction)
       proceed to the exact digest join, which at this size can shuffle
       both sides hash-partitioned — its left input is now ∝ true
       contamination, not ∝ corpus gram count.

    The bloom stage is a pure superset prefilter ahead of an exact
    verify, so results are bit-identical to ``ngram_decontaminate`` —
    the oracle is the same SQL. The bloom's own hash choice never
    affects the answer, only the fp rate.
    """
    if k_hashes < 1:
        raise ValueError("ngram_decontaminate_bloom: k_hashes must be >= 1")
    if m_bits < 64:
        raise ValueError("ngram_decontaminate_bloom: m_bits must be >= 64")
    bench_grams = _gram_digests(benchmark, n, text_col, id_col).select(
        "gram_md5"
    ).distinct()
    corpus_grams = _gram_digests(
        docs.join(benchmark.select(id_col), id_col, "left_anti"),
        n,
        text_col,
        id_col,
    )

    def positions(digest: Column) -> Column:
        return F.array(
            *[
                F.pmod(F.xxhash64(F.lit(i), digest), F.lit(m_bits))
                for i in range(k_hashes)
            ]
        )

    bloom = (
        bench_grams.select(F.explode(positions(F.col("gram_md5"))).alias("_p"))
        .select(
            F.expr("_p div 64").alias("word_idx"),
            F.expr("shiftleft(1L, CAST(_p % 64 AS INT))").alias("_m"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_m").alias("bits"))
    )
    probes = corpus_grams.select(
        id_col,
        "gram_md5",
        F.explode(positions(F.col("gram_md5"))).alias("_p"),
    ).select(
        id_col,
        "gram_md5",
        F.expr("_p div 64").alias("word_idx"),
        F.expr("shiftleft(1L, CAST(_p % 64 AS INT))").alias("_m"),
    )
    candidates = (
        probes.join(F.broadcast(bloom), "word_idx")
        .filter(F.col("bits").bitwiseAND(F.col("_m")) == F.col("_m"))
        .groupBy(id_col, "gram_md5")
        .agg(F.count(F.lit(1)).alias("_hits"))
        .filter(F.col("_hits") == k_hashes)
        .select(id_col, "gram_md5")
    )
    return (
        candidates.join(bench_grams, "gram_md5")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    lang: str = "en",
    min_quality: float = 0.73,
    top_token_thresh: float = 0.2,
    dup_bigram_thresh: float = 0.3,
) -> DataFrame:
    """The end-to-end corpus curation pipeline as ONE declarative plan:
    language filter + quality threshold + Gopher repetition screen +
    exact-dedup survivor selection (min doc_id per normalized-content
    hash, applied to the FILTERED set — a duplicate of a rejected doc
    cannot resurrect it).

    Plan shape: every per-row feature (quality score, language
    prediction, content fingerprint, the hoisted token arrays the
    repetition ratios fold over) is computed in a SINGLE projection over
    ONE scan of the corpus — composing the standalone operators through
    joins would re-scan the table once per feature. The only exchange is
    the survivor window over the content hash, fed by already-filtered
    rows. At 100 TB: one pass, one shuffle of the survivors' slice.
    """
    t = F.col(text_col)
    base = docs.select(
        "doc_id",
        tokens(t).alias("_tk"),
        F.array_sort(tokens(t)).alias("_srt"),
        quality_expr(t).alias("quality"),
        lang_pred_expr(t).alias("_lang"),
        F.md5(F.regexp_replace(F.lower(F.trim(t)), r"\s+", " ")).alias("fp"),
    )
    rep = _repetition_screen(
        base, top_token_thresh, dup_bigram_thresh, carry=("quality", "_lang", "fp")
    )
    # The filter must sit ABOVE the survivor window, not between the
    # feature projection and the window: a Filter under the projection
    # gets predicate-pushed with the FULL feature expression trees
    # substituted in (no cross-operator subexpression elimination), so
    # quality/language/repetition would each evaluate several times per
    # row — measured 10x slower. Predicates do NOT push through a
    # Window (except on partition keys), so folding the pass-decision
    # into the window input materializes every feature exactly once at
    # the exchange; the survivor min counts PASSING docs only, which
    # keeps the filtered-set dedup semantics (a duplicate of a rejected
    # doc cannot resurrect it).
    passing = (
        (F.col("_lang") == lang)
        & (F.col("quality") >= min_quality)
        & ~F.col("is_repetitive")
    )
    w = Window.partitionBy("fp")
    return (
        rep.withColumn("_pass", passing)
        .withColumn(
            "_keep", F.min(F.when(F.col("_pass"), F.col("doc_id"))).over(w)
        )
        .filter(F.col("_pass") & (F.col("doc_id") == F.col("_keep")))
        .select(
            "doc_id",
            "n_tokens",
            "quality",
            "top_token_frac",
            "dup_bigram_frac",
            "fp",
        )
    )


def token_shards(
    docs: DataFrame,
    budget: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic token-budget sharding — the step that packs a
    curated corpus into fixed-size training shards: documents are laid
    out in md5(id) order (rerun-stable, uniformly spread, the repo's
    reproducible-sampling convention) and cut greedily every ``budget``
    whitespace tokens: shard_id = (running_tokens - own_tokens) div
    budget, i.e. the shard where the document's first token lands.

    The running total comes from ``relational.global_prefix_sum`` — a
    parallel prefix-sum (order-aligned bucket window + broadcast bucket
    offsets), NOT a single-partition global window, so the layout scales
    to any corpus size with one full-data exchange. All integer
    arithmetic: bit-identical cross-engine.
    """
    from .relational import global_prefix_sum

    d = docs.select(
        F.col(id_col),
        F.md5(F.col(id_col).cast("string")).alias("_k"),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    c = global_prefix_sum(d, "_k", "n_tokens", out_col="_cum")
    return c.select(
        id_col,
        "n_tokens",
        F.expr(f"(_cum - n_tokens) div {budget}").alias("shard_id"),
        F.col("_cum").alias("cum_tokens"),
    )


# PII redaction rules: (name, pattern, replacement), applied in order.
# Patterns stay inside the Java-regex ∩ RE2 common subset (no lookaround,
# no backrefs) so the DuckDB oracle replicates the chain exactly; order
# matters (emails first so their digits never half-match as phones, IPs
# before phones for the same reason) and is part of the contract.
PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d\-\s]{6,}\d", "<PHONE>"),
)


def redact_pii(col: Column) -> Column:
    """Replace emails, IPv4 addresses, and phone-like digit runs with
    typed placeholders — the irreversible counterpart to
    :func:`pseudonymize` (no linkage survives). A chain of built-in
    ``regexp_replace`` calls: JVM-side, zero shuffle, scan-speed at
    100 TB."""
    out = col
    for _, pat, repl in PII_RULES:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(col: Column) -> dict[str, Column]:
    """Per-rule match counts on the ORIGINAL text (counted before any
    replacement so earlier rules can't consume later rules' matches)."""
    return {
        name: F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0)))
        for name, pat, _ in PII_RULES
    }


def redact_pii_docs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Document-level PII screen: redacted text plus per-category match
    counts (the audit columns a curation pipeline filters/reports on)."""
    t = F.col(text_col)
    counts = pii_counts(t)
    return docs.select(
        F.col(id_col),
        redact_pii(t).alias("redacted"),
        *[c.cast("long").alias(f"n_{name}") for name, c in counts.items()],
    )


def build_vocab(
    docs: DataFrame, min_count: int = 5, text_col: str = "text"
) -> DataFrame:
    """Frequency-ranked vocabulary construction — the tokenizer-training
    step of an LLM data pipeline: count normalized tokens corpus-wide,
    keep those with ``count >= min_count``, and assign dense
    ``vocab_id`` 1..V in (count desc, token) order.

    The ranking is the classic scale trap: ``row_number() OVER (ORDER BY
    n DESC)`` funnels the whole vocabulary through one task. Instead the
    rank is computed as :func:`relational.global_prefix_sum` of 1 over a
    SORTABLE KEY that encodes the ordering — ``(10^12 - count)``
    zero-padded to 12 digits, then the token — so the bucketed parallel
    prefix-sum machinery (one exchange + broadcast bucket offsets)
    yields exactly row_number. Integer arithmetic end to end;
    cross-engine exact.
    """
    from .relational import global_prefix_sum

    tok = docs.select(F.explode(normalized_tokens(text_col)).alias("token"))
    counts = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )
    keyed = counts.select(
        "token",
        "n",
        F.concat(
            F.lpad((F.lit(999999999999) - F.col("n")).cast("string"), 12, "0"),
            F.lit("|"),
            F.col("token"),
        ).alias("_k"),
        F.lit(1).alias("_one"),
    )
    # bucket on a 16-char prefix (full inverse-count digits + 3 token
    # chars): the default 2-char prefix would put every common count in
    # one bucket and re-create the single-partition funnel
    return global_prefix_sum(
        keyed,
        "_k",
        "_one",
        out_col="vocab_id",
        bucket_expr=F.substring(F.col("_k"), 1, 16),
    ).select("token", "n", "vocab_id")


def duplicate_gram_screen(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    max_dup_frac: float = 0.3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Within-corpus repeated-substring screen (the C4 boilerplate rule /
    Lee et al. 2021 dedup insight, expressed at n-gram granularity): for
    every document, the fraction of its DISTINCT word n-grams that occur
    in >= ``min_docs`` distinct documents — boilerplate (headers, nav
    bars, license blurbs, templated spam) scores high, organic text low.

    Engine shape: one explode->distinct reduces each side to 16-byte
    md5(gram) digests (:func:`_gram_digests` — the decontamination
    projection reused); one digest aggregation finds the HOT set
    (df >= min_docs), which is the boilerplate vocabulary — tiny next
    to the corpus by construction (it grows with the amount of shared
    text, not with corpus size) — and broadcasts back onto the per-doc
    digests. Per-doc totals and hot-hits then reduce in ONE aggregation
    over a shared scan: no self-join of the corpus, no pairwise term.

    Output: one row per document (short docs with no n-gram included):
    n_grams, n_dup_grams, dup_frac (null when n_grams = 0), keep.
    """
    grams = _gram_digests(docs, n, text_col, id_col)
    hot = (
        grams.groupBy("gram_md5")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("gram_md5")
    )
    per_doc = (
        grams.join(F.broadcast(hot).withColumn("_hot", F.lit(1)), "gram_md5", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_hot").alias("n_dup_grams"),
        )
    )
    out = docs.select(id_col).join(per_doc, id_col, "left")
    n_g = F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint")
    n_d = F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("bigint")
    frac = F.when(n_g > 0, F.round(n_d.cast("double") / n_g.cast("double"), 6))
    return out.select(
        id_col,
        n_g.alias("n_grams"),
        n_d.alias("n_dup_grams"),
        frac.alias("dup_frac"),
        F.coalesce(frac <= max_dup_frac, F.lit(True)).alias("keep"),
    )


def bigram_lm_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style language-model quality scoring: train an add-one
    smoothed bigram LM on the corpus itself, then score every document
    by its average per-bigram negative log-likelihood (low = typical
    text, high = gibberish/outlier — the perplexity filter of a
    training-data pipeline, with the corpus standing in for the
    reference LM since no external model ships with the engine).

    Model: P(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V), with c(w1 ·) the
    bigram-context count and V the corpus unigram vocabulary size.
    Self-trained, so every document bigram exists in the model — no OOV
    branch.

    Engine shape: document bigrams aggregate to (doc, bigram, cnt)
    multiplicities FIRST, so everything downstream processes distinct
    (doc, bigram) rows, not corpus tokens. The model counts are WINDOW
    sums over those same rows — c(w1 w2) = sum(cnt) over (partition by
    bigram), c(w1 ·) = sum(cnt) over (partition by w1) — instead of
    separate count tables joined back: two exchanges replace the
    aggregate+join pair per count (measured 9 -> 6 exchanges), and no
    model table is materialized. V broadcasts as a 1-row scalar.
    Determinism: each bigram's nll term rounds to 6dp and multiplies by
    its integer count BEFORE the exact decimal sum (the BM25 rule), so
    ranking is engine-independent.
    """
    tk = normalized_tokens(text_col)
    doc_bi = (
        docs.select(F.col(id_col), tk.alias("_tk"))
        .filter(F.size("_tk") >= 2)
        .select(id_col, F.explode(ngram_array(F.col("_tk"), 2)).alias("bigram"))
        .groupBy(id_col, "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_bi = Window.partitionBy("bigram")
    w_ctx = Window.partitionBy(F.split(F.col("bigram"), " ")[0])
    vocab = docs.select(F.explode(tk).alias("_t")).agg(
        F.countDistinct("_t").alias("v")
    )
    scored = (
        doc_bi.withColumn("c12", F.sum("cnt").over(w_bi))
        .withColumn("c1", F.sum("cnt").over(w_ctx))
        .crossJoin(F.broadcast(vocab))
        .select(
            id_col,
            "cnt",
            (
                F.col("cnt")
                * F.round(
                    -F.log(
                        (F.col("c12").cast("double") + F.lit(1.0))
                        / (F.col("c1").cast("double") + F.col("v").cast("double"))
                    ),
                    6,
                ).cast("decimal(18,6)")
            ).alias("_p"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.sum("cnt").cast("bigint").alias("n_bigrams"),
        F.round(
            F.sum("_p").cast("double") / F.sum("cnt").cast("double"), 4
        ).alias("avg_nll"),
    )


def perplexity_buckets(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2019):
    within each segment, rank documents by their LM score
    (:func:`bigram_lm_score` — low = typical text) and cut the ranking
    in thirds — ``head`` keeps the best-scoring third, ``tail`` the
    worst. The standard curation move: train on head+middle, inspect or
    drop tail, PER SOURCE so a noisy shard cannot crowd out a clean one
    on absolute score.

    Determinism: avg_nll is the 4dp-rounded engine-independent score;
    the rank orders by (avg_nll, id) so ties are total; the cuts are
    integer thresholds (rank*3 <= n → head, rank*3 <= 2n → middle) —
    per-segment proportions hold EXACTLY, never in float expectation.
    Documents with no bigram (fewer than 2 tokens) have no score and
    are excluded, matching the scorer's contract.

    Plan: the LM pass (corpus-sized, map-side combined) + one
    segment-keyed window over the doc-sized score table. Output:
    (id_col, group_col, n_bigrams, avg_nll, ppl_bucket).
    """
    scores = bigram_lm_score(docs, text_col=text_col, id_col=id_col)
    keyed = scores.join(docs.select(id_col, group_col), id_col)
    w = Window.partitionBy(group_col).orderBy("avg_nll", id_col)
    wall = Window.partitionBy(group_col)
    r = keyed.select(
        id_col,
        group_col,
        "n_bigrams",
        "avg_nll",
        F.row_number().over(w).alias("_rk"),
        F.count(F.lit(1)).over(wall).alias("_n"),
    )
    return r.select(
        id_col,
        group_col,
        "n_bigrams",
        "avg_nll",
        F.when(F.col("_rk") * 3 <= F.col("_n"), "head")
        .when(F.col("_rk") * 3 <= 2 * F.col("_n"), "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


def sequence_pack(
    docs: DataFrame,
    seq_len: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: lay the corpus out
    as one token stream in md5(id) order (rerun-stable, the repo's
    reproducible-sampling convention) and cut it into fixed
    ``seq_len``-token training sequences; documents crossing a boundary
    SPLIT across sequences. One output row per (document, sequence)
    piece — the index a training loader needs to assemble each sequence
    without ever materializing the token stream.

    Complements :func:`token_shards` (which assigns WHOLE documents to
    budget-sized shards): packing is the zero-padding-free layout used
    for pretraining batches.

    Engine shape: the global token offset is
    :func:`relational.global_prefix_sum` (parallel prefix-sum — one
    full-data exchange, never a single-partition window); the spanned
    sequence ids explode per document (span-proportional, almost always
    1). All integer arithmetic: bit-identical cross-engine.
    """
    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    from .relational import global_prefix_sum

    d = docs.select(
        F.col(id_col),
        F.md5(F.col(id_col).cast("string")).alias("_k"),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") >= 1)
    c = global_prefix_sum(d, "_k", "n_tokens", out_col="_cum")
    c = c.select(
        id_col,
        "n_tokens",
        (F.col("_cum") - F.col("n_tokens")).alias("_start"),
        (F.col("_cum") - 1).alias("_end"),
    )
    pieces = c.select(
        id_col,
        "n_tokens",
        "_start",
        "_end",
        F.explode(
            F.sequence(
                F.expr(f"_start div {seq_len}"), F.expr(f"_end div {seq_len}")
            )
        ).alias("seq_id"),
    )
    piece_start = F.greatest(F.col("_start"), F.col("seq_id") * seq_len)
    piece_end = F.least(F.col("_end"), (F.col("seq_id") + 1) * seq_len - 1)
    return pieces.select(
        id_col,
        "seq_id",
        (piece_start - F.col("_start")).cast("long").alias("doc_offset"),
        (piece_start - F.col("seq_id") * seq_len).cast("long").alias("seq_offset"),
        (piece_end - piece_start + 1).cast("long").alias("piece_len"),
    )


def chunk_documents(
    docs: DataFrame,
    chunk_chars: int = 200,
    stride: int = 150,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """RAG-style sliding-window chunking: cut each document into
    ``chunk_chars``-character windows advancing by ``stride`` (overlap =
    ``chunk_chars - stride``), the retrieval-index preparation step that
    sits between corpus curation and embedding. One row per chunk with
    its 0-based ``chunk_id``, 1-based character ``chunk_start``, the
    chunk text, and its exact length.

    Chunk-count contract (shared with the SQL oracle): a document of
    ``n`` characters yields ``1 + ceil((n - chunk_chars) / stride)``
    chunks when ``n > chunk_chars`` else exactly one (n >= 1) — i.e.
    chunking stops as soon as a window reaches the end of the document,
    so no tail chunk is fully contained in its predecessor. Empty
    documents yield no chunks. The ceiling is computed with integer
    arithmetic (``(n - chunk_chars + stride - 1) div stride``) so both
    engines agree bit-for-bit.

    Engine shape: pure narrow projection + span-proportional explode
    (sum(len)/stride output rows) — ZERO exchanges; at 100 TB this is a
    map-only pass whose output feeds the embedding stage. ``substring``
    is JVM whole-stage codegen; no UDF.
    """
    if chunk_chars < 1:
        raise ValueError(f"chunk_chars must be >= 1, got {chunk_chars}")
    if not (1 <= stride <= chunk_chars):
        raise ValueError(
            f"stride must be in [1, chunk_chars], got {stride}"
        )
    n = F.length(F.col(text_col))
    n_chunks = F.when(n <= chunk_chars, F.lit(1)).otherwise(
        F.lit(1) + F.expr(f"(length({text_col}) - {chunk_chars} + {stride - 1}) div {stride}")
    )
    d = docs.filter(n >= 1).select(
        F.col(id_col),
        F.col(text_col).alias("_txt"),
        F.explode(F.sequence(F.lit(0), n_chunks.cast("long") - 1)).alias(
            "chunk_id"
        ),
    )
    start = (F.col("chunk_id") * stride + 1).cast("int")
    piece = F.col("_txt").substr(start, F.lit(chunk_chars))
    return d.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        start.cast("long").alias("chunk_start"),
        piece.alias("chunk_text"),
        F.length(piece).cast("long").alias("chunk_len"),
    )


def hybrid_rrf_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 15,
    pool: int = 50,
    rrf_k: int = 60,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al. 2009):
    fuse two independent rankers' top-``pool`` lists with
    ``score = sum_r 1/(rrf_k + rank_r)`` — the standard way modern RAG
    stacks combine lexical and secondary signals without score
    calibration. Ranker A is :func:`bm25_topk`; ranker B is a
    term-coverage ranker (distinct query terms present desc, doc length
    asc — "short focused docs first", an integer-only signal). Docs
    absent from a list contribute nothing for it.

    Determinism (the iterated-float lesson, see operators/graph.py
    PageRank): RRF contributions are computed in FIXED-POINT 1e-12
    units via integer floor division ``10^12 div (rrf_k + rank)`` and
    summed as bigints — float reciprocals summed then rounded hit
    engine-divergent decimal-half ties; integer division cannot. The
    final ``rrf_score`` double is one exact-input division at the end.
    Both ranks carry full deterministic tie-breaks (BM25's 4dp rounded
    score is itself engine-exact, see bm25_topk).

    Scale: both rankers reduce to per-(doc, term) rows proportional to
    query-term MATCHES (filter-before-explode); the fusion joins two
    ``pool``-row lists — driver-free, broadcast-sized.
    """
    a = bm25_topk(
        docs, terms, k=pool, text_col=text_col, id_col=id_col
    ).select(
        id_col,
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col(id_col)))
        .cast("long")
        .alias("rank_bm25"),
    )
    tk = normalized_tokens(text_col)
    lowered = [t.lower() for t in terms]
    # Top-pool BEFORE ranking: orderBy+limit compiles to a distributed
    # TakeOrderedAndProject (per-partition heaps + one merge), so the
    # row_number window below touches <= pool rows — never a bare
    # Window.orderBy over every doc matching >= 1 term (for a common
    # term that is a corpus-fraction single-partition sort; the r9
    # VERDICT scale finding). Same total order, same top-pool set,
    # identical ranks as ranking-then-filtering.
    cov_order = (F.col("_cov").desc(), F.col("_dl").asc(), F.col(id_col))
    cov = (
        docs.select(F.col(id_col), tk.alias("_tk"))
        .select(
            id_col,
            F.size("_tk").cast("long").alias("_dl"),
            F.size(
                F.array_distinct(F.filter(F.col("_tk"), lambda t: t.isin(lowered)))
            )
            .cast("long")
            .alias("_cov"),
        )
        .filter(F.col("_cov") >= 1)
        .orderBy(*cov_order)
        .limit(pool)
        .select(
            id_col,
            F.row_number()
            .over(Window.orderBy(*cov_order))
            .cast("long")
            .alias("rank_cov"),
        )
    )
    unit = 10**12
    contrib_a = F.when(
        F.col("rank_bm25").isNull(), F.lit(0).cast("long")
    ).otherwise(F.expr(f"CAST({unit} div ({rrf_k} + rank_bm25) AS BIGINT)"))
    contrib_b = F.when(
        F.col("rank_cov").isNull(), F.lit(0).cast("long")
    ).otherwise(F.expr(f"CAST({unit} div ({rrf_k} + rank_cov) AS BIGINT)"))
    return (
        a.join(cov, id_col, "full_outer")
        .select(
            id_col,
            "rank_bm25",
            "rank_cov",
            (contrib_a + contrib_b).alias("rrf_units"),
        )
        .withColumn(
            "rrf_score", F.col("rrf_units").cast("double") / F.lit(float(unit))
        )
        .orderBy(F.col("rrf_units").desc(), F.col(id_col))
        .limit(k)
    )


def _bpe_rounds(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    end_mark: str = "</w>",
) -> tuple[DataFrame, DataFrame]:
    """Byte-pair-encoding merge learning (Sennrich et al. 2016) as a
    sequential dataflow loop — the tokenizer-training step of an LLM
    data pipeline, here over word characters with a ``</w>`` end-of-word
    symbol.

    Structure (and why it scales): the ONLY corpus-sized pass is the
    initial word-frequency aggregation — one shuffle of (word, count)
    partials.  Every merge round then runs over the DISTINCT-word table
    (vocabulary-sized, millions of rows at 100 TB, not trillions):
    adjacent-pair counts weighted by word frequency (explode + hash
    agg), a global argmax (count desc, then lexicographic pair — the
    deterministic tie-break), and a symbol-sequence rewrite via the
    broadcast 1-row winner.  State is checkpointed per round (the
    k-core lesson: lazy lineage re-executes the chain O(rounds^2)
    otherwise).  No driver-side data loop: the winner joins back in as
    a broadcast, exactly like PageRank's teleport term.

    MERGE CONTRACT (engine-portable, shared with the DuckDB oracle):
    the winning pair is applied with a space-padded two-pass literal
    ``replace`` — ``trim(replace(replace(' '||seq||' ', ' a b ',
    ' ab '), ...))``.  Standard left-to-right scan-resume-after-match
    replace semantics are identical in every engine; one pass can skip
    an occurrence whose leading space was consumed by the previous
    match, and a second pass provably catches every survivor (matches
    in pass two are separated by already-merged tokens, so they cannot
    overlap).  For a self-overlapping pair inside an odd run of one
    repeated symbol (``a a a a a``) this contract merges scan-order
    occurrences (positions 1-2 and 4-5), where canonical greedy BPE
    merges 1-2 and 3-4 — a documented, deterministic deviation applied
    identically on both engines.  Token counts per pair use standard
    BPE position counting (every adjacent position, overlaps included).
    """
    if n_merges < 1:
        raise ValueError(f"bpe: n_merges must be >= 1, got {n_merges}")
    spark = docs.sparkSession
    words = (
        docs.select(F.explode(normalized_tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    seqs = words.select(
        "word",
        "cnt",
        F.concat(
            F.trim(F.regexp_replace(F.col("word"), "(.)", "$1 ")),
            F.lit(" " + end_mark),
        ).alias("seq"),
    ).localCheckpoint(eager=True)
    merges: DataFrame | None = None
    for rnd in range(1, n_merges + 1):
        pairs = (
            seqs.select("cnt", F.split("seq", " ").alias("_sy"))
            .select(
                "cnt",
                F.explode(
                    F.zip_with(
                        F.slice(F.col("_sy"), 1, F.size("_sy") - 1),
                        F.slice(F.col("_sy"), 2, F.size("_sy") - 1),
                        lambda x, y: F.concat(x, F.lit(" "), y),
                    )
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("cnt").alias("pair_cnt"))
        )
        best = (
            pairs.orderBy(F.col("pair_cnt").desc(), F.col("pair").asc())
            .limit(1)
            .select(
                F.lit(rnd).alias("round"),
                F.split("pair", " ")[0].alias("left_sym"),
                F.split("pair", " ")[1].alias("right_sym"),
                F.col("pair_cnt").cast("long").alias("cnt"),
            )
            .localCheckpoint(eager=True)
        )
        if best.isEmpty():
            # every word fully merged to one symbol: nothing left to learn
            break
        merges = best if merges is None else merges.unionByName(best)
        winner = F.broadcast(
            best.select(
                F.concat(
                    F.lit(" "), "left_sym", F.lit(" "), "right_sym", F.lit(" ")
                ).alias("_patt"),
                F.concat(F.lit(" "), "left_sym", "right_sym", F.lit(" ")).alias(
                    "_repl"
                ),
            )
        )
        seqs = (
            seqs.crossJoin(winner)
            .select(
                "word",
                "cnt",
                F.trim(
                    F.expr(
                        "replace(replace(concat(' ', seq, ' '), _patt, _repl),"
                        " _patt, _repl)"
                    )
                ).alias("seq"),
            )
            .localCheckpoint(eager=True)
        )
    if merges is None:
        merges = spark.createDataFrame(
            [], "round int, left_sym string, right_sym string, cnt long"
        )
    return merges, seqs


def bpe_learn_merges(
    docs: DataFrame,
    n_merges: int = 12,
    text_col: str = "text",
    rounds: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """The learned BPE merge table: (round, left_sym, right_sym, merged,
    cnt) — one row per merge round in learning order.  See
    :func:`_bpe_rounds` for the dataflow and the engine-portable merge
    contract.

    ``rounds`` (optional): a precomputed ``_bpe_rounds(docs, n_merges,
    text_col)`` result for the SAME inputs, already pinned by the caller
    — lets a pipeline that derives several views of one merge table run
    the sequential merge loop once (the pca_corpus_scatter injection
    precedent); result-invisible since the helper returns the identical
    relation this function would build internally."""
    merges, _ = rounds if rounds is not None else _bpe_rounds(
        docs, n_merges, text_col
    )
    return merges.select(
        "round",
        "left_sym",
        "right_sym",
        F.concat("left_sym", "right_sym").alias("merged"),
        "cnt",
    )


def bpe_encode_words(
    docs: DataFrame,
    n_merges: int = 12,
    text_col: str = "text",
    rounds: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """The vocabulary after ``n_merges`` learned merges: every distinct
    corpus word with its frequency, its merged symbol sequence
    (space-joined), and its symbol count — the encode side of BPE
    (applying the merge table in learning order reproduces exactly this
    segmentation for any word built from corpus characters).

    ``rounds``: optional precomputed ``_bpe_rounds`` result, as in
    :func:`bpe_learn_merges`."""
    _, seqs = rounds if rounds is not None else _bpe_rounds(
        docs, n_merges, text_col
    )
    return seqs.select(
        "word",
        F.col("cnt").cast("long").alias("cnt"),
        "seq",
        F.size(F.split("seq", " ")).cast("long").alias("n_symbols"),
    )


def scrub_repeated_segments(
    docs: DataFrame,
    seg_len: int = 8,
    max_count: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicated-span REMOVAL (Lee et al. 2021 §4, the step after
    the screen): rewrite every document with its corpus-repeated spans
    deleted, at fixed ``seg_len``-token segment granularity. Where
    :func:`duplicate_gram_screen` SCORES documents, this operator
    produces the scrubbed training text itself — the form the dedup
    paper actually trains on.

    Semantics: each doc's token stream is cut into consecutive
    non-overlapping ``seg_len``-token segments (final short tail kept);
    a segment survives iff its exact text occurs <= ``max_count`` times
    in the WHOLE corpus (the default 1 deletes every span that appears
    anywhere else, including its first occurrence — the paper's
    strictest variant, and the one with a deterministic closed form).
    Fixed segment boundaries are the scalable discretization of the
    suffix-array span match: a copied run of >= 2*seg_len-1 tokens is
    guaranteed to cover at least one aligned segment, shorter or
    misaligned copies may escape — a documented recall trade, not a
    correctness one.

    Engine shape (2 keyed exchanges, nothing quadratic): segment rows
    build NARROW — tokens, ceil-div segment ids from an exploded
    ``sequence()``, ``slice`` + ``array_join`` (all codegen; no
    interpreted HOF lambda runs per token: that ran ~21 us per gram).
    Corpus multiplicities come from one window over ``seg_text`` (the
    exchange carries (doc, seg, text-slice) rows ∝ corpus tokens);
    reassembly is one doc-keyed window ordered by segment id:
    ``collect_list`` drops the nulls the kept-filter leaves, so the
    clean text concatenates in position order without a per-doc sort
    or HOF. Empty docs rejoin with empty clean text.

    Output: (doc_id, n_segments, n_kept, clean_text), one row per doc.
    """
    if seg_len < 1:
        raise ValueError(f"seg_len must be >= 1, got {seg_len}")
    if max_count < 1:
        raise ValueError(f"max_count must be >= 1, got {max_count}")
    base = docs.select(id_col, tokens(F.col(text_col)).alias("_tk"))
    segs = (
        base.filter(F.size("_tk") >= 1)
        .select(
            id_col,
            "_tk",
            F.explode(
                F.sequence(
                    F.lit(0),
                    ((F.size("_tk") + F.lit(seg_len - 1)) / F.lit(seg_len))
                    .cast("int")
                    - F.lit(1),
                )
            ).alias("seg"),
        )
        .select(
            id_col,
            "seg",
            F.array_join(
                F.slice(
                    F.col("_tk"), F.col("seg") * seg_len + 1, F.lit(seg_len)
                ),
                " ",
            ).alias("seg_text"),
        )
    )
    cnt = F.count(F.lit(1)).over(Window.partitionBy("seg_text"))
    kept = segs.select(
        id_col, "seg", "seg_text", (cnt <= max_count).alias("_keep")
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("seg")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    rebuilt = kept.select(
        id_col,
        F.count(F.lit(1)).over(w).alias("n_segments"),
        F.sum(F.col("_keep").cast("long")).over(w).alias("n_kept"),
        F.concat_ws(
            " ",
            F.collect_list(F.when(F.col("_keep"), F.col("seg_text"))).over(w),
        ).alias("clean_text"),
    ).dropDuplicates([id_col])
    return base.select(id_col).join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce("n_segments", F.lit(0)).cast("bigint").alias("n_segments"),
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def pmi_collocations(
    docs: DataFrame,
    min_count: int = 5,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Top-k collocations by pointwise mutual information over the
    corpus bigram distribution — the classic "which word pairs co-occur
    far beyond chance" statistic (Church & Hanks 1990), the phrase
    detector a tokenizer/embedding pipeline runs before merging
    multi-word units.

    Contingency-table formulation: with bigram count c_xy, row marginal
    c_x* (bigrams starting with x), column marginal c_*y, and bigram
    total N, ``pmi = ln(c_xy * N / (c_x* * c_*y))`` — one natural log
    of an exact integer rational, rounded to 6dp (the BM25/bigram-LM
    rule: single-step logs are engine-deterministic after quantization;
    only ITERATED float arithmetic is not). ``min_count`` screens the
    low-frequency pairs whose PMI estimates are noise (PMI's known
    pathology: a hapax pair maxes the score).

    Engine shape (the bigram-LM no-join-backs lesson): both marginals
    are WINDOW sums over the reduced (bigram, count) table — vocab^2 is
    never joined back, and nothing raw shuffles twice; N rides in on a
    broadcast crossJoin of one agg row. Output order (pmi desc, bigram
    asc) is total, so the limit is deterministic.

    Output: ``(bigram, cnt, c_left, c_right, pmi)``.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    tk = normalized_tokens(text_col)
    bi = (
        docs.select(tk.alias("_tk"))
        .filter(F.size("_tk") >= 2)
        .select(F.explode(ngram_array(F.col("_tk"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_l = Window.partitionBy(F.split(F.col("bigram"), " ")[0])
    w_r = Window.partitionBy(F.split(F.col("bigram"), " ")[1])
    tot = bi.agg(F.sum("cnt").alias("_n"))
    scored = (
        bi.withColumn("c_left", F.sum("cnt").over(w_l))
        .withColumn("c_right", F.sum("cnt").over(w_r))
        .filter(F.col("cnt") >= min_count)
        .crossJoin(F.broadcast(tot))
        .select(
            "bigram",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.col("c_left").cast("bigint").alias("c_left"),
            F.col("c_right").cast("bigint").alias("c_right"),
            # every factor casts to double BEFORE multiplying: int64
            # c_xy*N overflows at corpus scale, while each int->double
            # cast and float multiply is one correctly-rounded op in
            # both engines (then one ln, one 6dp quantize)
            F.round(
                F.log(
                    (F.col("cnt").cast("double") * F.col("_n").cast("double"))
                    / (
                        F.col("c_left").cast("double")
                        * F.col("c_right").cast("double")
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "bigram").limit(k)


def readability_scores(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Flesch reading-ease screen — the classic complexity score a
    curation pipeline thresholds next to the lang/quality/repetition
    screens: ``206.835 - 1.015*(words/sentences) -
    84.6*(syllables/words)``.

    Counting contracts (all INTEGER, all single regexp passes over the
    whole text — no per-token HOF lambda):
    - words: the repo's shared whitespace-token contract;
    - sentences: runs of ``[.!?]+`` (documents that never end a
      sentence count 1 — the conventional clamp);
    - syllables: vowel-group runs ``[aeiouy]+`` over the lowered text.
      Whole-text counting equals per-word counting exactly: a vowel
      group cannot span a word boundary (whitespace is not a vowel).
    The score itself is ONE fixed float expression over three exact
    integers — engine-deterministic. NULL for token-less documents.

    Output: (id_col, n_words, n_sentences, n_syllables, flesch).
    """
    tk = normalized_tokens(text_col)
    n_words = F.size(tk).cast("bigint")
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[.!?]+"), 0)),
        F.lit(1),
    ).cast("bigint")
    n_syll = F.size(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[aeiouy]+"), 0)
    ).cast("bigint")
    return docs.select(
        id_col,
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syll.alias("n_syllables"),
        F.when(
            n_words > 0,
            F.lit(206.835)
            - F.lit(1.015) * (n_words.cast("double") / n_sent.cast("double"))
            - F.lit(84.6) * (n_syll.cast("double") / n_words.cast("double")),
        ).alias("flesch"),
    )


def source_vocab_overlap(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the corpus
    diagnostic that finds shards mirroring each other's content
    (crawl/re-crawl, mirrored sites, re-exported dumps) BEFORE the
    expensive document-level near-dup pass: two sources with
    near-identical vocabularies are dedup candidates as wholes.

    Engine shape: tokens reduce to DISTINCT (source, token) map-side;
    pair counts come from a token-keyed self-join of that reduced
    table — work per token is (sources sharing it)^2, bounded by the
    SOURCE count squared, never by corpus volume (sources are an
    operational constant: hundreds at 100 TB, so the join output is
    <= |sources|^2 x vocab and collapses immediately in a map-side
    partial agg). Per-source vocab sizes broadcast onto the canonical
    (a < b) pair table; ``jaccard = shared / (va + vb - shared)`` is
    one float division of exact integers.

    Output: (src_a, src_b, vocab_a, vocab_b, shared, jaccard) for
    pairs with jaccard >= ``min_jaccard``.
    """
    tk = normalized_tokens(text_col)
    st = (
        docs.select(F.col(source_col).alias("_s"), F.explode(tk).alias("_t"))
        .distinct()
    )
    a, b = st.alias("a"), st.alias("b")
    shared = (
        a.join(b, "_t")
        .filter(F.col("a._s") < F.col("b._s"))
        .groupBy(
            F.col("a._s").alias("src_a"), F.col("b._s").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sizes = st.groupBy(F.col("_s")).agg(F.count(F.lit(1)).alias("_v"))
    va = sizes.select(F.col("_s").alias("src_a"), F.col("_v").alias("vocab_a"))
    vb = sizes.select(F.col("_s").alias("src_b"), F.col("_v").alias("vocab_b"))
    out = (
        shared.join(F.broadcast(va), "src_a")
        .join(F.broadcast(vb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("vocab_a").cast("bigint").alias("vocab_a"),
            F.col("vocab_b").cast("bigint").alias("vocab_b"),
            F.col("shared").cast("bigint").alias("shared"),
            (
                F.col("shared").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("shared")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= min_jaccard)


def source_gram_containment(
    docs: DataFrame,
    n: int = 3,
    source_col: str = "source",
    text_col: str = "text",
    min_shared: int = 1,
) -> DataFrame:
    """Pairwise n-GRAM containment between sources — the gram-level
    sequel to :func:`source_vocab_overlap`: two shards can share a
    vocabulary yet no sentences (same domain) or share long runs of
    actual text (mirror / re-export / benchmark leakage), and only a
    gram-level measure separates the two. Containment is ASYMMETRIC —
    ``|grams(A) ∩ grams(B)| / |grams(A)|`` — so a small source fully
    swallowed by a big one scores 1.0 in the direction that matters
    (the Bayardo containment convention, lifted to whole sources).

    Engine shape: word n-grams reduce to DISTINCT (source, md5) digest
    rows map-side (16-byte digests, never gram text — the
    decontamination projection); pair counts come from one digest-keyed
    self-join of that reduced table — work per digest is (sources
    sharing it)², bounded by the SOURCE count squared, never by corpus
    volume. Per-source gram counts broadcast onto the ordered-pair
    table; containment is one float division of exact integers.

    Output: (src_a, src_b, grams_a, grams_b, shared, containment) for
    ordered pairs with ``shared >= min_shared``; both directions emit.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    st = _gram_digests(
        docs.select(F.col(source_col).alias("_src"), F.col(text_col)),
        n,
        text_col,
        "_src",
    ).distinct()
    a = st.select(F.col("_src").alias("src_a"), "gram_md5")
    b = st.select(F.col("_src").alias("src_b"), "gram_md5")
    shared = (
        a.join(b, "gram_md5")
        .filter(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sizes = st.groupBy("_src").agg(F.count(F.lit(1)).alias("_ng"))
    ga = sizes.select(F.col("_src").alias("src_a"), F.col("_ng").alias("grams_a"))
    gb = sizes.select(F.col("_src").alias("src_b"), F.col("_ng").alias("grams_b"))
    return (
        shared.join(F.broadcast(ga), "src_a")
        .join(F.broadcast(gb), "src_b")
        .filter(F.col("shared") >= min_shared)
        .select(
            "src_a",
            "src_b",
            F.col("grams_a").cast("bigint").alias("grams_a"),
            F.col("grams_b").cast("bigint").alias("grams_b"),
            F.col("shared").cast("bigint").alias("shared"),
            (
                F.col("shared").cast("double")
                / F.col("grams_a").cast("double")
            ).alias("containment"),
        )
    )


def dsir_importance(
    docs: DataFrame,
    target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 512,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    the log-likelihood ratio of a TARGET-domain hashed n-gram LM over
    the RAW-corpus LM. Downstream selection keeps the top-weight (or
    Gumbel-resampled) documents — the published recipe for focusing a
    100 TB crawl on a target domain using only cheap hashed features.

    ``target`` is a boolean Column over ``docs`` marking the target
    domain (e.g. ``F.col("lang") == "en"``). Features are hashed
    unigram+bigram buckets (md5 mod ``width`` — the repo's
    oracle-replicable hash convention); both LMs are add-one smoothed
    over the same ``width`` buckets, so every bucket has mass and there
    is no OOV branch.

    Engine shape: token grams aggregate straight to (doc, bucket, cnt)
    multiplicities, which are eagerly checkpointed — the ONE
    corpus-sized pass (an earlier window-sum formulation recomputed the
    scan+explode for the totals branch: Catalyst does not dedupe common
    subplans and AQE produced no ReusedExchange, so the corpus was
    scanned twice — measured, and the reason for this shape). Both LM
    count vectors then reduce to a WIDTH-row model table (512 rows)
    that BROADCASTS back onto the checkpointed rows; the corpus totals
    derive from those 512 rows for free. Per-bucket log terms round to
    6dp decimals and multiply integer counts BEFORE the exact decimal
    sum (the BM25 rule), so weights are engine-independent. Cost: one
    corpus scan + 3 keyed exchanges, all on rows ∝ distinct
    (doc, bucket) — bounded by docs × width, never token volume.
    """
    tk = normalized_tokens(text_col)
    d = docs.select(
        F.col(id_col),
        target.alias("_is_target"),
        tk.alias("_tk"),
    ).filter(F.size("_tk") >= 1)
    grams = F.concat(
        F.col("_tk"),
        F.when(F.size("_tk") >= 2, ngram_array(F.col("_tk"), 2)).otherwise(
            F.array().cast("array<string>")
        ),
    )
    db = (
        d.select(id_col, "_is_target", F.explode(grams).alias("_g"))
        .select(
            id_col,
            "_is_target",
            (
                F.conv(F.substring(F.md5(F.concat(F.lit("dsir|"), F.col("_g"))), 1, 8), 16, 10)
                .cast("bigint")
                % F.lit(width)
            ).alias("_b"),
        )
        .groupBy(id_col, "_is_target", "_b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    bm = db.groupBy("_b").agg(
        F.sum(F.when(F.col("_is_target"), F.col("cnt")).otherwise(F.lit(0))).alias(
            "_ct"
        ),
        F.sum("cnt").alias("_cr"),
    )
    tot = bm.agg(
        F.sum("_ct").cast("double").alias("n_t"),
        F.sum("_cr").cast("double").alias("n_r"),
    )
    lam_t = F.round(
        F.log(
            (F.col("_ct").cast("double") + F.lit(1.0))
            / (F.col("n_t") + F.lit(float(width)))
        ),
        6,
    ).cast("decimal(18,6)")
    lam_r = F.round(
        F.log(
            (F.col("_cr").cast("double") + F.lit(1.0))
            / (F.col("n_r") + F.lit(float(width)))
        ),
        6,
    ).cast("decimal(18,6)")
    scored = (
        db.join(F.broadcast(bm), "_b")
        .crossJoin(F.broadcast(tot))
        .select(
            id_col,
            "_is_target",
            "cnt",
            (F.col("cnt") * (lam_t - lam_r)).alias("_w"),
        )
    )
    # Final 4dp rounding happens in the DECIMAL domain (HALF_UP in both
    # engines: Spark BigDecimal, DuckDB round(decimal)) — rounding the
    # double cast instead hits the decimal-half vs binary-half tie
    # divergence (observed at sf0.1: one doc's exact -0.340450 sum).
    return scored.groupBy(id_col).agg(
        F.max(F.col("_is_target")).alias("is_target"),
        F.sum("cnt").cast("bigint").alias("n_grams"),
        F.round(F.sum("_w"), 4).cast("double").alias("log_weight"),
    )


def byte_entropy(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    low_q6: str = "2.000000",
    high_q6: str = "5.200000",
) -> DataFrame:
    """Shannon entropy of each document's UTF-8 BYTE distribution — the
    compression-ratio proxy every pretraining pipeline screens on: very
    low entropy is repeated boilerplate/padding, very high is binary
    noise or ciphertext; prose sits in between (~4.0-4.8 bits/byte).
    Bytes, not characters, deliberately: byte histograms are encoding-
    unambiguous (UTF-16 surrogate splitting vs UTF-8 codepoints would
    diverge between engines), and the noise signal is byte-level anyway.

    Determinism contract: per-(doc, byte) counts are exact integers;
    each histogram term quantizes as ``cnt * round(log2(cnt/N), 6)``
    into DECIMAL(18,6) BEFORE the per-doc sum (the bigram-LM rule: 6dp
    log decimals x integer counts — never a float accumulation), so the
    entropy sum and the decimal-domain band thresholds (``-es`` vs
    ``low/high * N`` — the Fellegi-Sunter decimal-threshold rule) are
    engine-exact. The float ``entropy`` column is one correctly-rounded
    cast + division outside the aggregation.

    Plan shape: the per-doc byte histogram is ONE Arrow-batched
    ``mapInPandas`` over exactly (id, text) — ``numpy.bincount`` per
    document (guide §4.2: hand whole batches to vectorized native
    code), emitting <= 256 (doc, byte, cnt) rows per document with no
    explode and no histogram exchange (a document is one input row, so
    its counts are exact in-map). r12 A/B vs the previous all-codegen
    formulation (hex-pair substrings exploded over ``sequence()``,
    one row per corpus BYTE into a partial agg): 3.7 -> 0.7 s at
    sf0.1 — the per-byte row generation dominated, not the shuffle.
    The quantized entropy sum and banding stay in Spark SQL below, so
    the decimal contract is untouched; the single exchange still
    carries <= 256 rows per document regardless of document size.
    Empty documents survive via the left join with band 'empty' and
    null entropy.
    """
    d6, d18 = "decimal(18,6)", "decimal(18,0)"
    base = docs.select(
        F.col(id_col),
        F.octet_length(F.encode(F.col(text_col), "utf-8"))
        .cast("long")
        .alias("n_bytes"),
    )
    id_type = dict(docs.dtypes)[id_col]

    def _hist_batches(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, ns, bvs, cnts = [], [], [], []
            for doc_id, txt in zip(pdf[id_col].values, pdf[text_col].values):
                if txt is None:
                    continue
                raw = np.frombuffer(txt.encode("utf-8"), dtype=np.uint8)
                if raw.size == 0:
                    continue
                cnt = np.bincount(raw, minlength=256)
                nz = np.nonzero(cnt)[0]
                ids.extend([doc_id] * len(nz))
                ns.extend([raw.size] * len(nz))
                bvs.extend(nz.tolist())
                cnts.extend(cnt[nz].tolist())
            yield pd.DataFrame(
                {id_col: ids, "n_bytes": ns, "_bv": bvs, "_cnt": cnts}
            )

    hist = docs.select(id_col, text_col).mapInPandas(
        _hist_batches,
        f"{id_col} {id_type}, n_bytes long, _bv int, _cnt long",
    )
    term = F.col("_cnt").cast(d18) * F.round(
        F.log2(F.col("_cnt").cast("double") / F.col("n_bytes")), 6
    ).cast(d6)
    ent = hist.groupBy(id_col, "n_bytes").agg(
        F.count(F.lit(1)).alias("n_distinct_bytes"),
        F.sum(term).alias("_es"),
    )
    neg = -F.col("_es")
    lo = F.lit(low_q6).cast(d6) * F.col("n_bytes").cast(d18)
    hi = F.lit(high_q6).cast(d6) * F.col("n_bytes").cast(d18)
    band = (
        F.when(F.col("_es").isNull(), F.lit("empty"))
        .when(neg < lo, F.lit("repetitive"))
        .when(neg > hi, F.lit("noise"))
        .otherwise(F.lit("ok"))
    )
    return (
        base.select(id_col, "n_bytes")
        .join(ent.drop("n_bytes"), id_col, "left")
        .select(
            id_col,
            "n_bytes",
            F.coalesce(F.col("n_distinct_bytes"), F.lit(0))
            .cast("long")
            .alias("n_distinct_bytes"),
            (neg.cast("double") / F.col("n_bytes")).alias("entropy"),
            band.alias("band"),
        )
    )


def hashing_trick_features(
    docs: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Signed feature hashing (the "hashing trick", Weinberger et al.
    ICML 2009): every token maps to bucket ``md5('fh|'||tok) mod dim``
    with a ±1 sign drawn from an independent md5 prefix, and the
    document's feature vector is the signed token-count sum per bucket
    — the vocabulary-free vectorizer (no dictionary build, no second
    pass, memory O(dim)) that feeds linear models / similarity at any
    corpus scale. The sign bit makes bucket collisions cancel in
    expectation (the paper's unbiasedness argument).

    Exactness: components are pure INTEGER sums of ±counts under the
    repo's md5 contract — the SQL oracle regenerates bucket, sign, and
    every component bit-for-bit; the vector crosses engines as CSV
    (the embedding_quantize transport).

    Plan shape: token explode collapses map-side to <= dim rows per
    document (partial agg before the one exchange); the dense layout
    materializes per doc via map_from_entries + a sequence transform —
    no pivot, no per-component columns, dim is a value not a schema.
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    if id_col in {"_tok", "_idx", "_sign", "_v", "_m", "n_buckets_hit",
                  "l1_signed", "vec_csv"}:
        raise ValueError(f"hashing_trick id_col clashes with a working name: {id_col}")
    tk = normalized_tokens(text_col)
    base = docs.select(F.col(id_col), F.explode(tk).alias("_tok")).filter(
        F.col("_tok") != ""
    )
    idx = F.pmod(
        F.conv(F.substring(F.md5(F.concat(F.lit("fh|"), F.col("_tok"))), 1, 8), 16, 10)
        .cast("bigint"),
        F.lit(dim),
    ).cast("int")
    sign = F.when(
        F.conv(F.substring(F.md5(F.concat(F.lit("fs|"), F.col("_tok"))), 1, 2), 16, 10)
        .cast("bigint")
        % 2
        == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    comp = (
        base.select(id_col, idx.alias("_idx"), sign.alias("_sign"))
        .groupBy(id_col, "_idx")
        .agg(F.sum("_sign").cast("long").alias("_v"))
    )
    vec = comp.groupBy(id_col).agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("_idx", "_v")))
        ).alias("_m"),
        F.count(F.lit(1)).alias("n_buckets_hit"),
        F.sum(F.abs(F.col("_v"))).alias("l1_signed"),
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at(F.col("_m"), i.cast("int")), F.lit(0)),
    )
    out = vec.select(
        id_col,
        "n_buckets_hit",
        F.col("l1_signed").cast("long").alias("l1_signed"),
        F.array_join(
            F.transform(dense, lambda x: x.cast("string")), ","
        ).alias("vec_csv"),
    )
    # empty docs (no tokens) keep a zero vector
    zeros = ",".join(["0"] * dim)
    return (
        docs.select(id_col)
        .join(out, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_buckets_hit"), F.lit(0))
            .cast("long")
            .alias("n_buckets_hit"),
            F.coalesce(F.col("l1_signed"), F.lit(0)).cast("long").alias("l1_signed"),
            F.coalesce(F.col("vec_csv"), F.lit(zeros)).alias("vec_csv"),
        )
    )


def normalize_text(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unicode text normalization — the first cleaning pass of every
    LLM data pipeline: NFC-compose (so 'e'+COMBINING ACUTE and the
    precomposed accented char hash/tokenize identically), strip
    zero-width characters (U+200B/200C/200D/FEFF — invisible dedup and
    tokenizer poison), map NBSP to a plain space, replace C0/DEL
    control characters with spaces, collapse ASCII whitespace runs and
    trim.

    Cross-engine contract: NFC is Python ``unicodedata`` engine-side
    and ``nfc_normalize`` (utf8proc) oracle-side — both implement the
    same Unicode normalization form; zero-width/NBSP removal is EXACT
    character replacement (no regex, no engine class semantics); the
    control and whitespace classes are explicit ASCII-only character
    classes identical in Python re and RE2 (a bare ``\\s`` would
    diverge — Python's matches Unicode spaces, RE2's is ASCII).

    Scale posture: per-row Python (Arrow-batched pandas UDF) is the
    honest path for NFC — the JVM has no Unicode-normalization
    builtin — but NFC is the IDENTITY on ASCII, and the zero-width/
    NBSP characters are non-ASCII, so pure-ASCII documents take an
    all-JVM branch (the same explicit control/whitespace character
    classes, codegen-compiled) and Python sees only the non-ASCII
    minority. The split is a row-level union of two filtered scans —
    two pushdown-friendly passes over the input buy a 10-100x cut in
    Python volume on mostly-ASCII corpora, removing the engine's only
    corpus-sized per-document Python cost. Both branches equal the same pure-Python
    mirror on their rows (test-pinned); the plan stays map-only, zero
    exchanges.

    Output: (id_col, text cleaned, n_chars_raw, n_chars_clean, changed
    1/0) — lengths in codepoints in both engines.
    """
    import re as _re
    import unicodedata as _ud

    zw = dict.fromkeys(map(ord, "\u200b\u200c\u200d\ufeff"), None)
    ctrl = _re.compile(r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]")
    ws = _re.compile(r"[ \t\n\r\f\v]+")

    @F.pandas_udf("string")
    def clean(col: pd.Series) -> pd.Series:
        def one(t):
            if t is None:
                return None
            t = _ud.normalize("NFC", t).translate(zw).replace("\xa0", " ")
            t = ctrl.sub(" ", t)
            return ws.sub(" ", t).strip()

        return col.map(one)

    raw = F.col(text_col)
    # NULL text is "ASCII" (both branches map it to NULL); the predicate
    # is made non-NULL so every row takes exactly one branch
    is_ascii = F.when(raw.isNull(), F.lit(True)).otherwise(
        raw.rlike("^[\\x00-\\x7F]*$")
    )
    # JVM replica of the UDF for ASCII input: NFC/zero-width/NBSP are
    # no-ops there; \x0B spelled explicitly (Java's \v is the vertical-
    # whitespace CLASS since Java 8, not the single char Python matches)
    jvm_clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                raw, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", " "
            ),
            "[ \\t\\n\\r\\f\\x0B]+",
            " ",
        )
    )
    fast = docs.filter(is_ascii).select(
        F.col(id_col), raw.alias("_raw"), jvm_clean.alias(text_col)
    )
    slow = docs.filter(~is_ascii).select(
        F.col(id_col), raw.alias("_raw"), clean(raw).alias(text_col)
    )
    return fast.unionByName(slow).select(
        id_col,
        text_col,
        F.length("_raw").cast("long").alias("n_chars_raw"),
        F.length(F.col(text_col)).cast("long").alias("n_chars_clean"),
        (F.col(text_col) != F.col("_raw")).cast("bigint").alias("changed"),
    )


def oov_rate(
    docs: DataFrame,
    vocab: DataFrame,
    group_cols: tuple[str, ...] = ("source",),
    text_col: str = "text",
    vocab_token_col: str = "token",
) -> DataFrame:
    """Out-of-vocabulary rate per segment — the tokenizer-coverage
    report every vocab decision needs: given a vocabulary relation
    (e.g. :func:`build_vocab`'s output), what fraction of each
    segment's token OCCURRENCES and of its DISTINCT token types fall
    outside it? High OOV on a source flags a domain the tokenizer will
    shred into bytes/unknowns.

    Plan: tokens aggregate to (group, token, n) multiplicities — the
    one corpus-sized pass, map-side combined — then LEFT-join the
    vocabulary's token column (semi-shaped: a broadcast when the vocab
    is small, AQE decides) and reduce to one row per group. All counts
    are exact integers; the two rates are single correctly-rounded
    divisions.

    Output per group: (*group_cols, n_tokens, n_oov_tokens, n_types,
    n_oov_types, oov_token_rate, oov_type_rate).
    """
    clash = {
        "_tok", "_n", "_inv", "n_tokens", "n_oov_tokens", "n_types",
        "n_oov_types", "oov_token_rate", "oov_type_rate",
    } & set(group_cols)
    if clash:
        raise ValueError(f"oov group_cols clash with working names: {sorted(clash)}")
    toked = docs.select(
        *group_cols,
        F.explode(
            tokens(
                F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
            )
        ).alias("_tok"),
    )
    counts = toked.groupBy(*group_cols, "_tok").agg(
        F.count(F.lit(1)).alias("_n")
    )
    voc = vocab.select(
        F.col(vocab_token_col).alias("_tok"), F.lit(1).alias("_inv")
    ).distinct()
    j = counts.join(voc, "_tok", "left")
    oov = F.col("_inv").isNull()
    g = j.groupBy(*group_cols).agg(
        F.sum("_n").cast("long").alias("n_tokens"),
        F.sum(F.when(oov, F.col("_n")).otherwise(0)).cast("long").alias(
            "n_oov_tokens"
        ),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(oov, 1).otherwise(0)).cast("long").alias("n_oov_types"),
    )
    return g.select(
        *group_cols,
        "n_tokens",
        "n_oov_tokens",
        "n_types",
        "n_oov_types",
        (
            F.col("n_oov_tokens").cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("oov_token_rate"),
        (
            F.col("n_oov_types").cast("double")
            / F.col("n_types").cast("double")
        ).alias("oov_type_rate"),
    )


def zipf_fit(
    docs: DataFrame, min_count: int = 1, text_col: str = "text"
) -> DataFrame:
    """Zipf's-law rank-frequency fit over the corpus vocabulary — the
    classic corpus-health diagnostic (natural language follows
    freq ∝ rank^(-s) with s ≈ 1; machine-generated or templated text
    bends the log-log line): ordinary least squares of ln(freq) on
    ln(rank) over every type with ``count >= min_count``, plus the fit
    r² so a bad straight-line assumption is visible, not hidden.

    The rank comes from :func:`build_vocab` (the bucketed parallel
    prefix-sum — no single-partition vocabulary sort); ln values are
    quantized ONCE to 6dp decimals (the pmi/bigram-LM log rule) so the
    five OLS sums Σx, Σy, Σxy, Σx², Σy² accumulate EXACTLY in decimal;
    slope / intercept / r² are fixed float expressions over those
    pinned sums (one more correctly-rounded op each — never iterated
    float arithmetic). Shuffle: the token count (map-side combined,
    the only corpus-sized term), the vocab prefix-sum, one 1-row
    reduce.

    Output (one row): n_types, n_tokens, slope, intercept, r2 (slope
    and r2 NULL for degenerate fits: fewer than 2 types or zero x/y
    variance).
    """
    v = build_vocab(docs, min_count=min_count, text_col=text_col)
    d6 = "decimal(18,6)"
    pts = v.select(
        "n",
        F.round(F.log(F.col("vocab_id").cast("double")), 6).cast(d6).alias("_x"),
        F.round(F.log(F.col("n").cast("double")), 6).cast(d6).alias("_y"),
    )
    # xy/x²/y² are exact 12dp products of 6dp decimals; sums stay exact
    d12 = "decimal(38,12)"
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("n").cast("long").alias("n_tokens"),
        F.sum(F.col("_x").cast(d12)).cast(d12).alias("_sx"),
        F.sum(F.col("_y").cast(d12)).cast(d12).alias("_sy"),
        F.sum((F.col("_x") * F.col("_y")).cast(d12)).cast(d12).alias("_sxy"),
        F.sum((F.col("_x") * F.col("_x")).cast(d12)).cast(d12).alias("_sxx"),
        F.sum((F.col("_y") * F.col("_y")).cast(d12)).cast(d12).alias("_syy"),
    )
    nf = F.col("n_types").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx, syy = F.col("_sxx").cast("double"), F.col("_syy").cast("double")
    cov_n = nf * sxy - sx * sy  # n-scaled covariance, one expression
    varx_n = nf * sxx - sx * sx
    vary_n = nf * syy - sy * sy
    slope = F.when((F.col("n_types") >= 2) & (varx_n > 0), cov_n / varx_n)
    return s.select(
        "n_types",
        "n_tokens",
        slope.alias("slope"),
        F.when(
            (F.col("n_types") >= 2) & (varx_n > 0),
            (sy - (cov_n / varx_n) * sx) / nf,
        ).alias("intercept"),
        F.when(
            (F.col("n_types") >= 2) & (varx_n > 0) & (vary_n > 0),
            cov_n * cov_n / (varx_n * vary_n),
        ).alias("r2"),
    )


# Rae et al. 2021 (Gopher), Table A1: the required-word list and the
# rule thresholds below are the published constants.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
    max_symbol_permille: int = 100,
    min_alpha_permille: int = 800,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021 §A1.1) as a PER-RULE
    breakdown — the industry-standard document filter, reported rule by
    rule so curation can see WHICH gate a document fails (the composite
    :func:`quality_score` hides that): word-count band, mean-word-length
    band, symbol-to-word ratio, fraction of words with an alphabetic
    character, and the required-stopword presence.

    Exactness: every rule is an INTEGER comparison — the two ratio
    rules cross-multiply (``1000·n_sym <= max_permille·n_words``;
    ``1000·n_alpha >= min_permille·n_words``) and the mean-length band
    compares ``min·n <= Σlen <= max·n`` — so no float ever decides a
    keep/drop. The reported ratio columns are single correctly-rounded
    divisions for human eyes only. One map-only pass: token arrays and
    their HOF reductions, zero exchanges at any corpus size.

    Output per document: (id_col, n_words, mean_word_len,
    symbol_ratio, alpha_word_frac, stop_hits, r_wordcount, r_wordlen,
    r_symbol, r_alpha, r_stop — 1/0 bigints — and keep = all rules).
    Empty/NULL text fails the word-count rule and passes nothing.
    """
    t = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    tk = F.coalesce(tokens(t), F.array().cast("array<string>"))
    n = F.size(tk).cast("long")
    sum_len = F.coalesce(
        F.aggregate(
            tk, F.lit(0).cast("long"), lambda a, x: a + F.length(x).cast("long")
        ),
        F.lit(0).cast("long"),
    )
    n_sym = F.size(
        F.filter(tk, lambda x: x.rlike("^(#+|\\.\\.\\.)$"))
    ).cast("long")
    n_alpha = F.size(F.filter(tk, lambda x: x.rlike("[a-z]"))).cast("long")
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    n_stop = F.size(F.filter(tk, lambda x: F.array_contains(stop_arr, x))).cast(
        "long"
    )
    base = docs.select(
        F.col(id_col),
        n.alias("n_words"),
        sum_len.alias("_sl"),
        n_sym.alias("_nsym"),
        n_alpha.alias("_nal"),
        n_stop.alias("stop_hits"),
    )
    r_wc = (
        (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
    ).cast("bigint")
    r_wl = (
        (F.col("n_words") > 0)
        & (F.lit(min_mean_word_len) * F.col("n_words") <= F.col("_sl"))
        & (F.col("_sl") <= F.lit(max_mean_word_len) * F.col("n_words"))
    ).cast("bigint")
    r_sym = (
        (F.col("n_words") > 0)
        & (F.lit(1000) * F.col("_nsym") <= F.lit(max_symbol_permille) * F.col("n_words"))
    ).cast("bigint")
    r_al = (
        (F.col("n_words") > 0)
        & (F.lit(1000) * F.col("_nal") >= F.lit(min_alpha_permille) * F.col("n_words"))
    ).cast("bigint")
    r_st = (F.col("stop_hits") >= min_stop_hits).cast("bigint")
    return base.select(
        id_col,
        "n_words",
        F.when(
            F.col("n_words") > 0,
            F.col("_sl").cast("double") / F.col("n_words").cast("double"),
        ).alias("mean_word_len"),
        F.when(
            F.col("n_words") > 0,
            F.col("_nsym").cast("double") / F.col("n_words").cast("double"),
        ).alias("symbol_ratio"),
        F.when(
            F.col("n_words") > 0,
            F.col("_nal").cast("double") / F.col("n_words").cast("double"),
        ).alias("alpha_word_frac"),
        "stop_hits",
        r_wc.alias("r_wordcount"),
        r_wl.alias("r_wordlen"),
        r_sym.alias("r_symbol"),
        r_al.alias("r_alpha"),
        r_st.alias("r_stop"),
        (r_wc.cast("boolean") & r_wl.cast("boolean") & r_sym.cast("boolean")
         & r_al.cast("boolean") & r_st.cast("boolean")).cast("bigint").alias(
            "keep"
        ),
    )


def unimax_allocation(
    df: DataFrame,
    source_col: str = "source",
    tokens_col: Column | None = None,
    budget_num: int = 9,
    budget_den: int = 5,
    epoch_cap: int = 2,
) -> DataFrame:
    """UniMax sampling allocation (Chung et al. 2023, ICLR — "UniMax:
    Fairer and More Effective Language Sampling for Large-Scale
    Multilingual Pretraining"): distribute a token budget across
    sources as UNIFORMLY as possible subject to a per-source epoch cap
    — small sources are consumed in full (up to ``epoch_cap`` epochs),
    the rest split the remaining budget evenly. The principled
    alternative to temperature sampling (see
    relational.temperature_mix): no source is repeated more than
    ``epoch_cap`` times, and no tuned exponent.

    The sequential "repeatedly hand the smallest remaining source its
    capacity" loop has a CLOSED FORM over sources sorted by capacity
    ascending (capacity_s = n_tokens_s * epoch_cap): with prefix sums
    ``cum_i`` and ``S`` sources, source ``i`` is capped iff
    ``cap_i * (S - i + 1) <= B - cum_{i-1}`` — the condition is
    monotone in ``i``, so the cap boundary is ``m = max`` such ``i``
    and every uncapped source gets the waterline
    ``L = (B - cum_m) div (S - m)``. The budget is a RATIONAL of the
    corpus total (``B = total_tokens * budget_num div budget_den``) so
    the operator is scale-free; every quantity is a bigint (floor
    division only) and the two output doubles are single final
    divisions — bit-exact cross-engine.

    Plan: one map-side-combined per-source token aggregation (source-
    cardinality rows), then windows and one global aggregate over that
    TINY table (the isotonic bin-table precedent — never corpus-sized),
    broadcast back. Output one row per source: (source, n_tokens,
    capacity, is_capped, alloc_tokens, epochs, budget_share).
    """
    if budget_num < 0 or budget_den < 1:
        raise ValueError("budget must be a non-negative rational")
    if epoch_cap < 1:
        raise ValueError(f"epoch_cap must be >= 1, got {epoch_cap}")
    if tokens_col is None:
        tokens_col = token_count(F.col("text"))
    # pin the source-cardinality count table: the plan branches four
    # ways (positions, totals, waterline, output) and would otherwise
    # re-run the corpus scan per branch — at 100 TB the scan is the
    # whole cost, so it must happen exactly once
    counts = df.groupBy(source_col).agg(
        F.sum(tokens_col).cast("long").alias("n_tokens")
    ).localCheckpoint(eager=True)
    caps = counts.select(
        source_col,
        "n_tokens",
        (F.col("n_tokens") * epoch_cap).cast("long").alias("capacity"),
    )
    # source-cardinality table: a global-order window here is the
    # isotonic bin-table precedent, never corpus-sized
    w_ord = Window.orderBy("capacity", source_col)
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    pos = caps.select(
        source_col,
        "n_tokens",
        "capacity",
        F.row_number().over(w_ord).alias("_i"),
        F.sum("capacity").over(w_cum).alias("_cum"),
    )
    tot = counts.agg(
        F.sum("n_tokens").cast("long").alias("_tot"),
        F.count(F.lit(1)).alias("_s"),
    )
    j = pos.crossJoin(F.broadcast(tot)).withColumn(
        "_b", F.expr(f"_tot * {budget_num} DIV {budget_den}")
    )
    flagged = j.withColumn(
        "_capped",
        F.col("capacity") * (F.col("_s") - F.col("_i") + 1)
        <= F.col("_b") - (F.col("_cum") - F.col("capacity")),
    )
    water = flagged.agg(
        F.coalesce(
            F.max(F.when(F.col("_capped"), F.col("_i"))), F.lit(0)
        ).alias("_m"),
        F.coalesce(
            F.max(F.when(F.col("_capped"), F.col("_cum"))),
            F.lit(0).cast("long"),
        ).alias("_cum_m"),
    )
    alloc = F.when(F.col("_i") <= F.col("_m"), F.col("capacity")).otherwise(
        F.expr("(_b - _cum_m) DIV (_s - _m)")
    )
    return (
        flagged.crossJoin(F.broadcast(water))
        .select(
            source_col,
            "n_tokens",
            "capacity",
            (F.col("_i") <= F.col("_m")).cast("long").alias("is_capped"),
            alloc.cast("long").alias("alloc_tokens"),
            F.when(
                F.col("n_tokens") > 0,
                alloc.cast("double") / F.col("n_tokens").cast("double"),
            ).alias("epochs"),
            F.when(
                F.col("_b") > 0,
                alloc.cast("double") / F.col("_b").cast("double"),
            ).alias("budget_share"),
        )
    )


def heaps_law_fit(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_k: int = 3,
) -> DataFrame:
    """Heaps'-law vocabulary-growth fit — V(N) = k * N^beta over the
    corpus token stream (Heaps 1978; natural text grows its vocabulary
    as a power law with beta ~ 0.4-0.6; templated or looping text bends
    the curve): the companion diagnostic to :func:`zipf_fit`'s
    rank-frequency line, answering "is new data still bringing new
    vocabulary" — the curation signal for corpus saturation.

    The stream order is the repo's reproducible layout (md5(id) doc
    order — the :func:`sequence_pack` convention — then within-doc
    position); the growth curve is sampled at power-of-two checkpoints
    ``2^k (k >= min_k, 2^k < N)`` plus ``N`` itself, and OLS of
    ``ln V`` on ``ln N`` runs over those <= ~60 points with the zipf
    6dp-decimal quantization (exact decimal sums, fixed final float
    expressions).

    Engine shape: ONE corpus-sized exchange (the
    :func:`relational.global_prefix_sum` for doc offsets) plus the
    map-side-combined per-type MIN of first position; each type then
    maps to its ceiling checkpoint by INTEGER bit-length
    (``length(bin(pos - 1))`` — no log2 transcendental decides a
    bucket), and the curve is a <= 60 x 60 theta-join cumsum over the
    bucket-count table. No single-partition corpus window anywhere.

    Output: one row per checkpoint — (checkpoint, v_types, n_tokens,
    n_types, beta, lnk, r2), fit columns constant across rows (NULL
    for degenerate fits: < 2 checkpoints or zero variance).
    """
    if not 1 <= min_k <= 20:
        raise ValueError(f"min_k must be in [1, 20], got {min_k}")
    from .relational import global_prefix_sum

    d = (
        docs.select(
            F.md5(F.col(id_col).cast("string")).alias("_k"),
            tokens(F.col(text_col)).alias("_tk"),
        )
        .withColumn("n_tokens", F.size("_tk").cast("long"))
        .filter(F.col("n_tokens") >= 1)
    )
    c = global_prefix_sum(d, "_k", "n_tokens", out_col="_cum")
    tok = c.select(
        (F.col("_cum") - F.col("n_tokens")).alias("_off"),
        F.posexplode("_tk").alias("_p", "_t"),
    ).select(
        F.col("_t").alias("token"),
        (F.col("_off") + F.col("_p") + 1).alias("_pos"),
    )
    # pin the vocab-sized first-occurrence table: three downstream
    # branches (buckets, type count, curve) would each re-run the
    # corpus explode otherwise; totals aggregate PRE-prefix-sum (d,
    # not c) so the second corpus scan is a narrow count, not the
    # windowed pipeline — two corpus passes total, everything after
    # runs off pinned tiny tables
    first = (
        tok.groupBy("token")
        .agg(F.min("_pos").alias("_fp"))
        .localCheckpoint(eager=True)
    )
    # ceiling power-of-two bucket via integer bit length — p in
    # (2^(k-1), 2^k] has length(bin(p-1)) == k; p <= 2^min_k clamps
    bucket = F.when(
        F.col("_fp") <= F.lit(1 << min_k), F.lit(min_k)
    ).otherwise(F.length(F.bin(F.col("_fp") - 1)))
    bc = first.groupBy(bucket.cast("int").alias("_kb")).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    totals = (
        d.agg(F.sum("n_tokens").cast("long").alias("_n"))
        .crossJoin(first.agg(F.count(F.lit(1)).cast("long").alias("_v")))
        .localCheckpoint(eager=True)  # 1 row; referenced by 2 branches
    )
    cps = totals.select(
        "_n",
        "_v",
        F.explode(
            F.expr(
                f"filter(sequence({min_k}, 62),"
                f" k -> shiftleft(CAST(1 AS BIGINT), k) < _n)"
            )
        ).alias("_kc"),
    ).select(
        "_n",
        "_v",
        "_kc",
        F.expr("shiftleft(CAST(1 AS BIGINT), _kc)").alias("checkpoint"),
    )
    vt = (
        cps.join(F.broadcast(bc), F.col("_kb") <= F.col("_kc"), "left")
        .groupBy("_n", "_v", "checkpoint")
        .agg(F.coalesce(F.sum("_cnt"), F.lit(0)).cast("long").alias("v_types"))
    )
    curve = vt.unionByName(
        totals.select(
            "_n",
            "_v",
            F.col("_n").alias("checkpoint"),
            F.col("_v").alias("v_types"),
        )
    ).localCheckpoint(eager=True)  # <= ~60 rows; OLS + output both read it
    d6, d12 = "decimal(18,6)", "decimal(38,12)"
    pts = curve.select(
        "_n",
        "_v",
        "checkpoint",
        "v_types",
        F.round(F.log(F.col("checkpoint").cast("double")), 6)
        .cast(d6)
        .alias("_x"),
        F.round(F.log(F.col("v_types").cast("double")), 6)
        .cast(d6)
        .alias("_y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("_np"),
        F.sum(F.col("_x").cast(d12)).cast(d12).alias("_sx"),
        F.sum(F.col("_y").cast(d12)).cast(d12).alias("_sy"),
        F.sum((F.col("_x") * F.col("_y")).cast(d12)).cast(d12).alias("_sxy"),
        F.sum((F.col("_x") * F.col("_x")).cast(d12)).cast(d12).alias("_sxx"),
        F.sum((F.col("_y") * F.col("_y")).cast(d12)).cast(d12).alias("_syy"),
    )
    npf = F.col("_np").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx, syy = F.col("_sxx").cast("double"), F.col("_syy").cast("double")
    cov_n = npf * sxy - sx * sy
    varx_n = npf * sxx - sx * sx
    vary_n = npf * syy - sy * sy
    ok = (F.col("_np") >= 2) & (varx_n > 0)
    return pts.crossJoin(F.broadcast(s)).select(
        "checkpoint",
        "v_types",
        F.col("_n").alias("n_tokens"),
        F.col("_v").alias("n_types"),
        F.when(ok, cov_n / varx_n).alias("beta"),
        F.when(ok, (sy - (cov_n / varx_n) * sx) / npf).alias("lnk"),
        F.when(ok & (vary_n > 0), cov_n * cov_n / (varx_n * vary_n)).alias(
            "r2"
        ),
    )


def wordpiece_greedy_encode(
    words: DataFrame,
    vocab: DataFrame,
    word_col: str = "word",
    cnt_col: str = "cnt",
    target_col: str = "target",
    piece_col: str = "piece",
    max_piece_len: int = 24,
    max_word_len: int = 48,
    unk_token: str = "[UNK]",
) -> DataFrame:
    """Greedy longest-match-first subword segmentation — the WordPiece
    INFERENCE rule (Wu et al. 2016; the HuggingFace WordPiece tokenizer
    contract): at each position take the longest vocabulary piece that
    matches, a word with any unmatchable position (or longer than
    ``max_word_len``) becomes ``unk_token`` whole. Against a
    BPE-learned vocabulary this generally segments DIFFERENTLY than
    replaying the merge table in learning order (:func:`bpe_encode_words`)
    — the classic greedy-vs-merge-order distinction tokenizer papers
    measure.

    Plan: the distinct vocabulary is collected once into a driver-side
    set (it is broadcast-sized: the encoder holds it whole); a piece
    longer than ``max_piece_len`` would be silently unreachable, so it
    raises instead. One ``mapInArrow`` over the words then runs the
    greedy match per target, at most ``min(max_piece_len, longest
    piece)`` set probes per position, on exact code-point strings (the
    code points Spark's ``length``/``substring`` count). Arrow batches
    pass ``word`` and ``cnt`` through untouched, whatever their types.
    The kernel emits the space-joined pieces and a nullable UNK flag;
    the JVM select below turns them into the output columns. Per-task
    memory is the vocabulary plus one batch; the corpus never enters
    (the words are one row each, duplicates kept).

    Cross-engine: pure substring equality on exact strings and integer
    positions — no regex, no floats; the oracle is the identical greedy
    recursion as a recursive CTE with a LATERAL longest-match probe.
    NULL pieces match nothing.

    Output: one row per word — (word, cnt, wp_seq, n_pieces, is_unk);
    ``wp_seq`` space-joins the pieces, UNK words report ``n_pieces=1``.
    An empty target gives ``('', 1, 0)``; a NULL target gives
    ``('', 1, NULL)``.
    """
    if max_piece_len < 1 or max_word_len < 1:
        raise ValueError("max_piece_len and max_word_len must be >= 1")
    pieces = vocab.select(F.col(piece_col).alias("_p")).distinct().toArrow()
    known = frozenset(p for p in pieces.column("_p").to_pylist() if p)
    piece_max = max(map(len, known), default=0)
    if piece_max > max_piece_len:
        raise ValueError(
            f"vocab has a {piece_max}-char piece, beyond max_piece_len="
            f"{max_piece_len} — raise the cap so greedy can reach it"
        )
    cap = max(1, piece_max)
    state = words.select(
        F.col(word_col).alias("word"),
        F.col(cnt_col).alias("cnt"),
        F.col(target_col).alias("_tg"),
    )

    def encode(batches):
        import pyarrow as pa

        for batch in batches:
            seqs, unks = [], []
            for tg in batch.column("_tg").to_pylist():
                out, pos = [], 0
                unk = None if tg is None else len(tg) > max_word_len
                while unk is False and pos < len(tg):
                    for ln in range(min(cap, len(tg) - pos), 0, -1):
                        if tg[pos : pos + ln] in known:
                            out.append(tg[pos : pos + ln])
                            pos += ln
                            break
                    else:
                        unk = True
                seqs.append(" ".join(out))
                unks.append(unk)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("word"),
                    batch.column("cnt"),
                    pa.array(seqs, pa.string()),
                    pa.array(unks, pa.bool_()),
                ],
                names=["word", "cnt", "_seq", "_unk"],
            )

    done = state.mapInArrow(
        encode,
        StructType(
            [
                state.schema["word"],
                state.schema["cnt"],
                StructField("_seq", StringType()),
                StructField("_unk", BooleanType()),
            ]
        ),
    )
    return done.select(
        "word",
        F.col("cnt").cast("long").alias("cnt"),
        F.when(F.col("_unk"), F.lit(unk_token)).otherwise(F.col("_seq")).alias(
            "wp_seq"
        ),
        F.when(F.col("_unk"), F.lit(1))
        .otherwise(F.size(F.split("_seq", " ")))
        .cast("long")
        .alias("n_pieces"),
        F.col("_unk").cast("long").alias("is_unk"),
    )


def kneser_ney_bigram(
    docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Interpolated Kneser-Ney bigram language model (Kneser & Ney 1995;
    Chen & Goodman 1999's standard formulation) with the fixed discount
    d = 3/4 — the LM-quality counterpart to :func:`bigram_lm_score`'s
    add-one model: KN backs off to CONTINUATION counts (in how many
    contexts does w appear), the correction that makes "Francisco"
    rare outside "San Francisco" despite its high raw count.

    With a RATIONAL discount every observed bigram's probability is ONE
    exact integer ratio — no smoothing float, no quantization:

        p_kn(w|v) = (c(vw) - 3/4)/c(v)
                    + (3/4) * N1+(v.)/c(v) * N1+(.w)/N
        num = 4*c(vw)*N - 3*N + 3*N1+(v.)*N1+(.w)
        den = 4*c(v)*N                      (N = distinct bigram types)

    both DECIMAL(38,0) integers; p_kn is one correctly-rounded double
    division of their (VARCHAR-transported, the agg_corr rule) double
    images — bit-exact cross-engine.

    Plan: one corpus-sized bigram explode to the distinct-bigram count
    table (map-side combined — everything downstream is vocabulary²-
    bounded); context totals and continuation counts are two aggregates
    OVER THAT TABLE; N broadcasts as a 1-row scalar.

    Output: one row per observed bigram — (prev, cur, c_vw, c_v,
    n1p_from, n1p_to, p_kn). Mass on unseen continuations is implicit:
    sum of p_kn over observed w given v is < 1 by the backoff share.
    """
    tk = normalized_tokens(text_col)
    bc = (
        docs.select(tk.alias("_tk"))
        .filter(F.size("_tk") >= 2)
        .select(F.explode(ngram_array(F.col("_tk"), 2)).alias("_bg"))
        .select(
            F.split("_bg", " ")[0].alias("prev"),
            F.split("_bg", " ")[1].alias("cur"),
        )
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("c_vw"))
        .localCheckpoint(eager=True)  # four aggregates read it
    )
    ctx = bc.groupBy("prev").agg(
        F.sum("c_vw").cast("long").alias("c_v"),
        F.count(F.lit(1)).cast("long").alias("n1p_from"),
    )
    tow = bc.groupBy("cur").agg(F.count(F.lit(1)).cast("long").alias("n1p_to"))
    nall = bc.agg(F.count(F.lit(1)).cast("long").alias("_nn"))
    d38 = "decimal(38,0)"
    num = (
        F.lit(4).cast(d38) * F.col("c_vw").cast(d38) * F.col("_nn").cast(d38)
        - F.lit(3).cast(d38) * F.col("_nn").cast(d38)
        + F.lit(3).cast(d38)
        * F.col("n1p_from").cast(d38)
        * F.col("n1p_to").cast(d38)
    )
    den = F.lit(4).cast(d38) * F.col("c_v").cast(d38) * F.col("_nn").cast(d38)
    return (
        bc.join(ctx, "prev")
        .join(tow, "cur")
        .crossJoin(F.broadcast(nall))
        .select(
            "prev",
            "cur",
            F.col("c_vw").cast("long").alias("c_vw"),
            "c_v",
            "n1p_from",
            "n1p_to",
            (num.cast("double") / den.cast("double")).alias("p_kn"),
        )
    )


def negative_sampling_table(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """The word2vec negative-sampling distribution (Mikolov et al. 2013
    §2.2): unigram counts raised to the 3/4 power, the flattening that
    makes frequent words negative examples less often than their raw
    share — the sampling table every SGNS-style trainer precomputes.

    Exactness (the temperature_mix sqrt rule): ``n^(3/4) = sqrt(n) *
    sqrt(sqrt(n))`` — two CORRECTLY-ROUNDED IEEE sqrts and one
    correctly-rounded product, so the weight is a deterministic double
    in any engine, with no pow/exp/ln transcendental; weights quantize
    ONCE to 6dp decimals so the normalizing sum is exact and
    order-independent.

    Plan: one map-side-combined token count (the only corpus-sized
    pass), one 1-row exact-decimal total broadcast back onto the
    vocabulary-sized weight table.

    Output: (token, n, weight, share) — share sums to 1 over the kept
    vocabulary (up to one correctly-rounded division per row).
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    tk = normalized_tokens(text_col)
    counts = (
        docs.select(F.explode(tk).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )
    nf = F.col("n").cast("double")
    w6 = F.round(F.sqrt(nf) * F.sqrt(F.sqrt(nf)), 6).cast("decimal(18,6)")
    weights = counts.select("token", F.col("n").cast("long").alias("n"), w6.alias("_w"))
    tot = weights.agg(F.sum("_w").cast("decimal(38,6)").alias("_tw"))
    return weights.crossJoin(F.broadcast(tot)).select(
        "token",
        "n",
        F.col("_w").cast("double").alias("weight"),
        (
            F.col("_w").cast("double")
            / F.col("_tw").cast("string").cast("double")
        ).alias("share"),
    )
