"""Deduplication operators: exact, MinHash+LSH, SimHash, and blocked
set similarity (n-gram Jaccard and containment).

Design targets 100 TB corpora:

- Exact dedup hashes the normalized text once (md5) and group-bys the
  16-byte digest — shuffle carries digests, never document bodies.
- MinHash near-dup never does an O(n^2) comparison: MinHash signatures ->
  LSH band buckets -> equi-join on (band, band-hash) produces candidates,
  and only candidates get a Jaccard verification. All signature math is
  JVM-side array expressions (transform/aggregate over xxhash64) — no
  Python UDFs.
- SimHash: 64-bit signature from token hashes; near-dup candidates via
  generalized pigeonhole chunk blocking (split into k > max_hamming
  chunks; a pair within Hamming d agrees on >= k-d chunks, so an
  equi-join on chunk-combination keys finds every such pair).
- Blocked set similarity (``jaccard_pairs``, ``containment_pairs``)
  compares every document pair inside a block key, so its work is
  quadratic in the block by definition. Both run one grouped Arrow
  kernel, ``_block_pairs``: one task per block counts the shared
  distinct n-grams of all its pairs with float64 products of 0/1
  incidence tiles, O(n^2 * V) for n documents and V shared grams, with
  per-task temps bounded by the tile constants.

xxhash64 seeds make every signature deterministic run-to-run and
cluster-size-independent.
"""

from __future__ import annotations

import math
from itertools import combinations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import ngram_array, tokens


def normalize_text(text: Column) -> Column:
    """Canonical form for dedup: lowercase, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def content_hash(text: Column) -> Column:
    return F.md5(normalize_text(text))


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (after normalization) documents: one row
    per distinct content, keeping the smallest doc_id as the survivor."""
    return (
        docs.select(F.col("doc_id"), content_hash(F.col(text_col)).alias("h"))
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def hashed_shingles(
    docs: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """(doc_id, hs: array<bigint>) — hashes of the word n-gram multiset.

    Each token STRING is hashed exactly once; an n-gram's hash is the
    xxhash64 of its n consecutive token hashes, so no shingle strings are
    ever materialized. Shared by MinHash signatures and the prefiltered
    Jaccard verify (hash-set Jaccard equals string-set Jaccard up to
    negligible 64-bit collision probability).
    """
    toked = docs.select(
        "doc_id", tokens(normalize_text(F.col(text_col))).alias("_tk")
    )
    th = toked.select(
        "doc_id", F.transform(F.col("_tk"), lambda t: F.xxhash64(t)).alias("th")
    )
    gram = F.transform(
        F.sequence(F.lit(0), F.size("th") - n),
        lambda i: F.xxhash64(*[F.get(F.col("th"), i + j) for j in range(n)]),
    )
    return th.filter(F.size("th") >= n).select("doc_id", gram.alias("hs"))


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """(doc_id, m0..m{H-1}) MinHash signature columns.

    Plan shape chosen for scale, all shuffle-free until a tiny aggregate:

    1. hash each TOKEN string exactly once (one transform pass);
    2. shingle hash = xxhash64 of the n consecutive token hashes — long
       ops only, no shingle strings are ever materialized;
    3. explode and take the H per-seed minimums as vectorized
       whole-stage-codegen aggregates of cheap long-mix hashes
       (xxhash64(seed, h)). MinHash over a multiset equals MinHash over
       the set, so no dedup pass is needed before the min.

    The per-doc partial aggregation shrinks the shuffle to H longs per
    document. The earlier formulation (nested array lambdas re-hashing
    every shingle string per seed) ran ~30x slower, entirely outside
    codegen.
    """
    # NOTE: the explode must sit directly over the gram expression with
    # `th` materialized by the previous projection. Routing through
    # hashed_shingles' array column adds a Project layer that Catalyst
    # collapses into the Generate, inlining the token-hash array into the
    # gram lambda — re-evaluated per position (measured 10x slower).
    toked = docs.select(
        "doc_id", tokens(normalize_text(F.col(text_col))).alias("_tk")
    )
    th = toked.select(
        "doc_id", F.transform(F.col("_tk"), lambda t: F.xxhash64(t)).alias("th")
    )
    gram = F.transform(
        F.sequence(F.lit(0), F.size("th") - shingle_n),
        lambda i: F.xxhash64(*[F.get(F.col("th"), i + j) for j in range(shingle_n)]),
    )
    ex = (
        th.filter(F.size("th") >= shingle_n)
        .select("doc_id", F.explode(gram).alias("h"))
    )
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("h"))).alias(f"m{i}")
        for i in range(num_hashes)
    ]
    return ex.groupBy("doc_id").agg(*aggs)


def minhash_near_dup_candidates(
    docs: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Candidate near-duplicate pairs (a < b) via MinHash LSH banding.

    Signatures per ``minhash_signatures``; each band's key is the xxhash64
    of its row columns taken directly (no string concat). Candidates come
    from an equi-join on (band, band-hash) — shuffle scales linearly with
    corpus size, never quadratic.
    """
    rows = num_hashes // bands
    sigs = minhash_signatures(docs, text_col, shingle_n, num_hashes)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"m{b * rows + j}") for j in range(rows)]).alias("bh"),
        )
        for b in range(bands)
    ]
    sig = sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", "bk.band", "bk.bh")
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


# Tiles of the blocked set-similarity kernel: one step multiplies two
# dense 0/1 incidence tiles of at most _PAIR_TILE_ROWS documents x
# _PAIR_TILE_VOCAB grams into a _PAIR_TILE_ROWS^2 count tile, so a task's
# temps hold about 2.4M float64 cells (19 MB) plus that tile's flat pair
# arrays, whatever the block size. They bound memory and select no path.
_PAIR_TILE_ROWS = 512
_PAIR_TILE_VOCAB = 2048


def _tile_intersections(row, code, m: int, rt: int, vt: int):
    """Exact |A ∩ B| for every document pair i < j of one block of ``m``
    documents, yielded one row-tile pair at a time as flat (i, j, inter)
    arrays. ``row``/``code`` list the block's (document, gram) incidence
    entries. Each step is the float64 product of two dense 0/1 tiles of
    at most rt x vt cells; sums of 1.0 are exact integers below 2^53."""
    import numpy as np

    n_vocab = int(code.max()) + 1 if len(code) else 0
    nrt, nvt = -(-m // rt), -(-n_vocab // vt)
    # entries grouped by (row tile, vocab tile): each tile is one slice
    key = (row // rt) * nvt + code // vt
    order = np.argsort(key, kind="stable")
    row, code = row[order], code[order]
    cut = np.searchsorted(key[order], np.arange(nrt * nvt + 1))

    def tile(r: int, t: int):
        lo, hi = cut[r * nvt + t], cut[r * nvt + t + 1]
        x = np.zeros((min(rt, m - r * rt), min(vt, n_vocab - t * vt)))
        x[row[lo:hi] - r * rt, code[lo:hi] - t * vt] = 1.0
        return x

    def filled(r: int, t: int) -> bool:
        return cut[r * nvt + t] < cut[r * nvt + t + 1]

    for a in range(nrt):
        for b in range(a, nrt):
            na, nb = min(rt, m - a * rt), min(rt, m - b * rt)
            inter = np.zeros((na, nb))
            for t in range(nvt):
                if filled(a, t) and filled(b, t):
                    inter += tile(a, t) @ tile(b, t).T
            if a == b:
                i, j = np.triu_indices(na, 1)
            else:
                i, j = np.divmod(np.arange(na * nb), nb)
            yield i + a * rt, j + b * rt, inter[i, j]


def _block_pairs(
    docs: DataFrame,
    block_col: str,
    text_col: str,
    n: int,
    cols: tuple[str, str, str],
    emit,
) -> DataFrame:
    """The one verify path of the blocked set-similarity operators: a
    ``groupBy(block).applyInPandas``, one task per block, as in the
    SemDeDup screen.

    Tokenization stays in the JVM (``tokens(normalize_text(text))``);
    the kernel only joins consecutive tokens with " " into n-grams, as
    ``concat_ws`` does, and never re-splits or re-cases text (Java and
    Python disagree on ``\\s`` and ``lower()`` outside ASCII). Per block
    it factorizes the distinct grams on their exact strings (no hashing
    into a smaller domain), drops grams held by one document (they add
    to no intersection), and counts |A ∩ B| with
    ``_tile_intersections``.

    ``emit(ids, sz, i, j, inter)`` maps one tile of pairs (i < j in
    doc_id order; ``sz`` the distinct-gram counts, float64) to the
    (left ids, right ids, values) rows to keep, written as ``cols``.
    NULL ids and NULL block keys pair with nothing, as in an equi-join;
    NULL, blank and shorter-than-n texts have no gram and no row. The
    kernel drops those texts itself: a JVM filter on ``size(_tk)``
    would be pushed below the projection with the alias inlined, and
    the tokenize expression would run twice per document.
    """
    import numpy as np
    import pandas as pd

    rt, vt = _PAIR_TILE_ROWS, _PAIR_TILE_VOCAB
    toked = docs.select(
        F.col("doc_id").alias("_id"),
        F.col(block_col).alias("_blk"),
        tokens(normalize_text(F.col(text_col))).alias("_tk"),
    ).filter(F.col("_id").isNotNull() & F.col("_blk").isNotNull())
    id_type = dict(toked.dtypes)["_id"]

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        long_enough = [tk is not None and len(tk) >= n for tk in pdf["_tk"]]
        pdf = pdf[long_enough].sort_values("_id", kind="mergesort")
        ids = pdf["_id"].to_numpy()
        grams = [
            set(tk)
            if n == 1
            else {" ".join(tk[k : k + n]) for k in range(len(tk) - n + 1)}
            for tk in (t.tolist() for t in pdf["_tk"])
        ]
        sz = np.array([len(g) for g in grams], dtype=np.int64)
        szf = sz.astype(np.float64)
        code = pd.factorize(pd.Series([g for gs in grams for g in gs], dtype=object))[0]
        shared = np.bincount(code)[code] >= 2
        code = np.unique(code[shared], return_inverse=True)[1]
        row = np.repeat(np.arange(len(ids)), sz)[shared]
        parts = [
            emit(ids, szf, i, j, inter)
            for i, j, inter in _tile_intersections(row, code, len(ids), rt, vt)
        ]
        return pd.DataFrame(dict(zip(cols, (np.concatenate(p) for p in zip(*parts)))))

    return toked.groupBy("_blk").applyInPandas(
        run, f"{cols[0]} {id_type}, {cols[1]} {id_type}, {cols[2]} double"
    )


def jaccard_pairs(
    docs: DataFrame,
    block_col: str = "source",
    text_col: str = "text",
    shingle_n: int = 1,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for document pairs within a
    blocking key (never all-pairs: the block bounds the candidate set).

    jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|) over distinct word n-gram
    sets — integer cardinalities, so the double division is
    deterministic. Emits (doc_a, doc_b, jaccard >= threshold) with
    doc_a < doc_b, pairs of zero overlap included when the threshold
    allows them.

    Plan: ``_block_pairs``, one task per block. Per-block work is
    O(n^2 * V) for n documents and V shared grams; per-task temps are
    bounded by ``_PAIR_TILE_ROWS`` x ``_PAIR_TILE_VOCAB`` tiles; counts
    are float64 sums of 1.0, exact below 2^53.
    """

    def emit(ids, sz, i, j, inter):
        v = inter / (sz[i] + sz[j] - inter)
        keep = (v >= threshold) & (ids[i] != ids[j])
        return ids[i[keep]], ids[j[keep]], v[keep]

    return _block_pairs(
        docs, block_col, text_col, shingle_n, ("doc_a", "doc_b", "jaccard"), emit
    )


def _delete_one(s: Column) -> Column:
    """All strings obtained by deleting exactly one character of ``s``
    (one element per position; empty input yields [''])."""
    ln = F.length(s)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(ln, F.lit(1))),
        lambda i: F.concat(
            F.substring(s, F.lit(1), i - 1),
            F.substring(s, i + 1, ln),
        ),
    )


def edit_distance_candidates(
    df: DataFrame,
    id_col: str,
    str_col: str,
    block_cols: tuple[str, ...] = (),
    max_dist: int = 2,
    prefix_block_len: int = 0,
) -> DataFrame:
    """Candidate pairs for Levenshtein distance <= ``max_dist`` via
    symmetric-delete blocking (the public SymSpell scheme, Garbe 2012):
    two strings within edit distance d share at least one string in their
    <=d-character-deletion neighborhoods, so an equi-join on deletion
    variants finds every qualifying pair with ZERO recall loss.

    Scale posture: each row fans out to O(len^max_dist) short variant keys
    (len=18 names, d=2 -> <=172 keys), and candidates are pairs sharing a
    variant — linear in corpus size on diverse strings, unlike any
    fixed-cardinality block key whose per-block join is inherently
    quadratic in n. Optional ``block_cols`` (e.g. a nation key) further
    conjoin the join key. Output: (id_a, id_b, s_a, s_b, block cols),
    deduplicated.

    ``prefix_block_len > 0`` is the discriminative-slice cut for corpora
    whose strings share a constant prefix (serial identifiers like
    "Customer#000000042"): the first n chars become an additional exact
    block key and deletion variants are generated over the SUFFIX only —
    for an 18-char name with a 9-char constant prefix that is 46 variant
    keys/row instead of 172. Recall: a common prefix strips off
    Levenshtein-exactly (lev(Px, Py) = lev(x, y) — the DP's first rows
    are forced), so on a shared-prefix corpus this is still lossless.
    On mixed corpora it is deliberate blocking, same contract as
    ``block_cols``: pairs whose first n chars differ are not examined.
    """
    if max_dist not in (1, 2):
        raise ValueError("edit_distance_candidates supports max_dist 1 or 2")
    base = df.select(
        F.col(id_col).alias("_id"), F.col(str_col).alias("_s"), *block_cols
    )
    if prefix_block_len:
        base = base.withColumn(
            "_pfx", F.substring("_s", 1, prefix_block_len)
        ).withColumn(
            "_sfx", F.expr(f"substring(_s, {prefix_block_len + 1})")
        )
    else:
        base = base.withColumn("_pfx", F.lit("")).withColumn(
            "_sfx", F.col("_s")
        )
    # hoist the delete-1 array into its own projection: it is referenced
    # twice below and HOF-lambda inlining would otherwise recompute it
    d1 = base.withColumn("_d1", _delete_one(F.col("_sfx")))
    parts = [F.array(F.col("_sfx")), F.col("_d1")]
    if max_dist == 2:
        parts.append(F.flatten(F.transform(F.col("_d1"), _delete_one)))
    variants = F.array_distinct(F.concat(*parts))
    # Bucket-aggregate formulation, NOT a self-join: a self-join would
    # re-execute the variant-generation subtree on both sides (no exchange
    # reuse across differently-projected inputs; measured 2x slower).
    # Each exploded row carries only (id, 64-bit variant-key) — the
    # variant string and any block columns are folded into one xxhash64 —
    # so ONE 16-byte-per-row shuffle groups ids per variant and an array
    # expression expands the (ordered) in-bucket pairs. Hash collisions
    # can only ADD candidates: same-block collisions are removed by the
    # caller's exact levenshtein verification, and cross-block collisions
    # (a 2^-64 event that the levenshtein check could NOT catch when the
    # strings genuinely are close) by the exact block-equality guard at
    # the join-back below. Buckets are tiny on diverse strings; a hot
    # bucket means many near-identical strings, where the pair count is
    # genuine output, not blocking overhead.
    vh = F.xxhash64(F.col("_v"), F.col("_pfx"), *[F.col(c) for c in block_cols])
    v = d1.select(
        "_id", "_pfx", *block_cols, F.explode(variants).alias("_v")
    ).select(F.col("_id"), vh.alias("_vh"))
    buckets = (
        v.groupBy("_vh")
        .agg(F.array_sort(F.collect_list("_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    in_bucket_pairs = F.expr(
        """
        flatten(transform(ids, (x, i) ->
          transform(slice(ids, i + 2, size(ids)), y -> struct(x AS id_a, y AS id_b))))
        """
    )
    pairs = (
        buckets.select(F.explode(in_bucket_pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    na = base.select(
        F.col("_id").alias("id_a"), F.col("_s").alias("s_a"), *block_cols
    )
    nb = base.select(
        F.col("_id").alias("id_b"),
        F.col("_s").alias("s_b"),
        *[F.col(c).alias(f"_b_{c}") for c in block_cols],
    )
    out = pairs.join(na, "id_a").join(nb, "id_b")
    for c in block_cols:
        # exact block-equality guard (see collision note above)
        out = out.filter(F.col(c).eqNullSafe(F.col(f"_b_{c}")))
    if prefix_block_len:
        # same exact guard for the implicit prefix block key
        out = out.filter(
            F.substring("s_a", 1, prefix_block_len).eqNullSafe(
                F.substring("s_b", 1, prefix_block_len)
            )
        )
    return out.select("id_a", "id_b", "s_a", "s_b", *block_cols)


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    str_col: str,
    block_cols: tuple[str, ...] = (),
    max_dist: int = 2,
    prefix_block_len: int = 0,
) -> DataFrame:
    """Exact Levenshtein-<=d pairs: symmetric-delete candidates (no recall
    loss; see ``prefix_block_len`` caveat on mixed-prefix corpora), then
    one levenshtein() on the FULL strings per deduplicated candidate
    pair. Same results as a quadratic blocked join, linear candidate
    generation."""
    cand = edit_distance_candidates(
        df, id_col, str_col, block_cols, max_dist, prefix_block_len
    )
    return cand.withColumn("dist", F.levenshtein("s_a", "s_b")).filter(
        F.col("dist") <= max_dist
    )


def edit_distance_pairs_collapsed(
    df: DataFrame,
    id_col: str,
    str_col: str,
    block_cols: tuple[str, ...] = (),
    max_dist: int = 2,
    prefix_block_len: int = 0,
) -> DataFrame:
    """``edit_distance_pairs`` with identical strings collapsed to one
    representative BEFORE candidate generation — the dist-0 prefilter.

    On duplicate-heavy corpora (crawl text, denormalized names) the plain
    path pays the O(len^max_dist) variant fan-out and the bucket shuffle
    PER ROW, although every copy of a string generates the same variants;
    and k copies of one string meet in every shared bucket, so candidate
    pairs grow with k^2 before verification can drop them. Here:

    1. one exchange groups rows by (string, blocks): variant fan-out and
       the bucket shuffle then scale with DISTINCT strings only;
    2. identical-string pairs (dist 0) are emitted straight from each
       group's sorted id array — never bucketed, never verified;
    3. cross-string pairs are verified ONCE per distinct string pair,
       then expanded to id pairs by a small array product.

    Exactly ``edit_distance_pairs``'s contract (same columns, id_a <
    id_b, same rows — equality is pytest-pinned), so the two are
    interchangeable; pick this one when duplicates are expected. On an
    all-unique corpus it costs one extra exchange (the group-by) and
    wins nothing.
    """
    groups = (
        df.select(F.col(id_col).alias("_gs_id"), F.col(str_col).alias("_gs"), *block_cols)
        .groupBy("_gs", *block_cols)
        .agg(F.array_sort(F.collect_list("_gs_id")).alias("_ids"))
    )
    reps = groups.select(
        F.col("_ids")[0].alias("_gid"), "_gs", *block_cols, "_ids"
    )
    cand = edit_distance_candidates(
        reps, "_gid", "_gs", block_cols, max_dist, prefix_block_len
    )
    verified = cand.withColumn("dist", F.levenshtein("s_a", "s_b")).filter(
        F.col("dist") <= max_dist
    )
    ga = reps.select(F.col("_gid").alias("id_a"), F.col("_ids").alias("_ids_a"))
    gb = reps.select(F.col("_gid").alias("id_b"), F.col("_ids").alias("_ids_b"))
    # expand each verified distinct-string pair to its id-pair product;
    # the pair is re-ordered per id (id_a < id_b), so the strings swap
    # with it — all inside one array expression, no extra shuffle
    expanded = F.expr(
        """
        flatten(transform(_ids_a, x -> transform(_ids_b, y -> struct(
          least(x, y) AS id_a, greatest(x, y) AS id_b,
          CASE WHEN x < y THEN s_a ELSE s_b END AS s_a,
          CASE WHEN x < y THEN s_b ELSE s_a END AS s_b))))
        """
    )
    cross = (
        verified.join(ga, "id_a")
        .join(gb, "id_b")
        .select(F.explode(expanded).alias("_p"), *block_cols, "dist")
        .select("_p.id_a", "_p.id_b", "_p.s_a", "_p.s_b", *block_cols, "dist")
    )
    in_group_pairs = F.expr(
        """
        flatten(transform(_ids, (x, i) ->
          transform(slice(_ids, i + 2, size(_ids)), y -> struct(x AS id_a, y AS id_b))))
        """
    )
    # identical strings: every in-group pair is dist 0 by construction.
    # NULL strings never pair — levenshtein(NULL, NULL) is NULL in the
    # plain path, so it drops them too.
    within = (
        groups.filter(F.col("_gs").isNotNull() & (F.size("_ids") >= 2))
        .select(
            F.explode(in_group_pairs).alias("_p"),
            F.col("_gs").alias("s_a"),
            F.col("_gs").alias("s_b"),
            *block_cols,
        )
        .select(
            "_p.id_a", "_p.id_b", "s_a", "s_b", *block_cols, F.lit(0).alias("dist")
        )
    )
    return cross.unionByName(within)


def near_dup_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 25,
    on_budget_exhausted: str = "raise",
) -> DataFrame:
    """Connected components over near-duplicate pairs: every id gets
    ``cluster_id`` = the minimum id in its component — the canonical
    survivor-selection step that turns pairwise near-dup evidence into
    keep/drop decisions (transitive closure, so A~B, B~C dedups all
    three even when A~C was never emitted).

    Algorithm: iterative min-label propagation. Each round, every node
    lowers its label to the minimum label among itself and its
    neighbors; convergence in O(component diameter) rounds. This is an
    ITERATIVE algorithm, so the driver-side loop (one action per round to
    test convergence) is inherent — the same structure as MLlib's
    iterative fitters, not a hot-path collect. Each round is one shuffle
    join of the edge list against 16-byte (id, label) rows plus a
    min-aggregate; ``localCheckpoint`` truncates lineage so round N does
    not replay rounds 1..N-1. Near-dup graphs are overwhelmingly tiny
    components (pairs within a few edits of each other), so diameters are
    small; for adversarial long-chain graphs at 100 TB the same loop
    admits the large-star/small-star contraction (Kiveris et al. 2014),
    which converges in O(log n) rounds — not needed for dedup workloads.
    """
    edges = (
        pairs.select(F.col(a_col).alias("s"), F.col(b_col).alias("t"))
        .union(pairs.select(F.col(b_col).alias("s"), F.col(a_col).alias("t")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = ids.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("label")
    ).localCheckpoint(eager=True)
    for _ in range(max_iters):
        neigh_min = (
            edges.join(labels.withColumnRenamed("id", "s"), "s")
            .select(F.col("t").alias("id"), "label")
            .groupBy("id")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neigh_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.withColumnRenamed("label", "new")
            .join(labels, "id")
            .filter(F.col("new") != F.col("label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # falling through with changed > 0 would silently return labels
        # that split one component across clusters (A and Z of a long
        # chain). Either fail loudly, or — with
        # ``on_budget_exhausted="star"`` — hand the graph to the
        # large-star/small-star contraction, whose O(log n) round count
        # is diameter-independent, so the budget that defeated
        # propagation cannot defeat the fallback.
        if on_budget_exhausted == "star":
            import warnings

            warnings.warn(
                f"near_dup_clusters: not converged after {max_iters} "
                f"rounds ({changed} nodes moved last round); switching "
                "to large-star/small-star contraction",
                stacklevel=2,
            )
            return near_dup_clusters_star(ids, pairs, id_col, a_col, b_col)
        raise RuntimeError(
            f"near_dup_clusters: labels still changing after {max_iters} "
            f"rounds ({changed} nodes moved last round); a component's "
            "diameter exceeds max_iters. Raise max_iters, pass "
            "on_budget_exhausted='star', or call near_dup_clusters_star "
            "directly for long-chain graphs."
        )
    return labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))


def _md5_shingles_and_bands(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    num_hashes: int,
    bands: int,
    pin_g: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """The oracle-replicable md5 MinHash front half, shared by the batch
    and incremental variants: returns (g, bandk) where g = (_id, _g
    distinct-shingle array) and bandk = (_id, band, bk) exploded band
    keys. Lexicographic min over md5 hex is a valid min-hash (hex is
    order-isomorphic to the 128-bit integer). ``pin_g=True``
    localCheckpoints g before the signature derivation so callers that
    fan it into the band path and both verify join sides don't execute
    the tokenize + shingle subtree three times."""
    rows = num_hashes // bands
    if rows * bands != num_hashes:
        raise ValueError("num_hashes must be divisible by bands")
    tk = docs.select(
        F.col(id_col).alias("_id"),
        F.expr(_norm_tokens_sql(text_col)).alias("_tk"),
    ).filter(F.size("_tk") >= shingle_n)
    ln = F.size("_tk") - (shingle_n - 1)
    grams: Column = F.slice(F.col("_tk"), 1, ln)
    for j in range(1, shingle_n):
        grams = F.zip_with(
            grams,
            F.slice(F.col("_tk"), 1 + j, ln),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    # hoist the distinct-shingle array: it is referenced num_hashes times
    # below and once by the verify join-back (HOF-lambda hoisting rule)
    g = tk.select("_id", F.array_distinct(grams).alias("_g"))
    if pin_g:
        g = g.localCheckpoint(eager=True)
    # the per-seed hasher MUST be a one-parameter lambda: a second
    # parameter (even a defaulted `i=i` closure trick) makes PySpark
    # treat it as transform's (element, index) form, silently binding
    # the "constant" to the index lambda-variable — the md5 prefix then
    # stringifies a Column (with a session-global variable counter in
    # its name), i.e. a wrong AND session-order-dependent hash family
    def _seed_hasher(i: int):
        prefix = F.lit(f"{i}:")
        return lambda x: F.md5(F.concat(prefix, x))

    sigs = [
        F.array_min(F.transform(F.col("_g"), _seed_hasher(i))).alias(f"_s{i}")
        for i in range(num_hashes)
    ]
    sig = g.select("_id", "_g", *sigs)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat(*[F.col(f"_s{b * rows + r}") for r in range(rows)])
                ).alias("bk"),
            )
            for b in range(bands)
        ]
    )
    bandk = sig.select("_id", F.explode(band_structs).alias("bs")).select(
        "_id", "bs.band", "bs.bk"
    )
    return g, bandk


def minhash_near_dup_verified(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.3,
) -> DataFrame:
    """MinHash near-dup with an ORACLE-REPLICABLE hash family: min over
    md5(seed || ':' || shingle) strings instead of xxhash64 — md5 exists
    identically in ANSI-SQL engines, so a DuckDB twin regenerates the
    exact signatures, band keys, candidate set, and Jaccard verdicts,
    and the driver hash pins the ENTIRE MinHash pipeline cross-engine
    (the xxhash64 variant `minhash_near_dup_candidates` stays the fast
    rows-only path; this one is the verified twin, same blocking
    semantics: pairs sharing >= 1 of ``bands`` band keys, then exact
    shingle-set Jaccard >= threshold).

    Lexicographic min over md5 hex strings is a valid min-hash: the hex
    encoding is order-isomorphic to the 128-bit integer, which is
    uniform over shingles. Cost vs xxhash64: string hashing and H string
    mins per doc — fine for a verification-grade query; shuffle is the
    same (band keys + candidate ids), linear in corpus size.

    Emits (doc_a, doc_b, jaccard) with doc_a < doc_b, 4-dp rounding.
    """
    g, bandk = _md5_shingles_and_bands(
        docs, text_col, id_col, shingle_n, num_hashes, bands, pin_g=True
    )
    buckets = (
        bandk
        .groupBy("band", "bk")
        .agg(F.array_sort(F.collect_list("_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pair_expand = F.expr(
        """
        flatten(transform(ids, (x, i) ->
          transform(slice(ids, i + 2, size(ids)), y -> struct(x AS a, y AS b))))
        """
    )
    cand = (
        buckets.select(F.explode(pair_expand).alias("p"))
        .select("p.a", "p.b")
        .dropDuplicates(["a", "b"])
    )
    ga = g.select(F.col("_id").alias("a"), F.col("_g").alias("ga"))
    gb = g.select(F.col("_id").alias("b"), F.col("_g").alias("gb"))
    jac = F.round(
        F.size(F.array_intersect("ga", "gb"))
        / F.size(F.array_union("ga", "gb")).cast("double"),
        4,
    )
    return (
        cand.join(ga, "a")
        .join(gb, "b")
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


_UH_P = 2147483647  # Mersenne prime 2^31 - 1


def _uh_consts(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for universal-hash seed i: LCG-derived,
    a != 0 mod P. All products stay < 2^62 (a < P < 2^31, h % P < 2^31),
    so int64 arithmetic is exact in BOTH engines — the whole point."""
    a = (1103515245 * (i + 1) + 12345) % _UH_P
    b = (69069 * i + 1) % _UH_P
    assert a != 0
    return a, b


def _universal_shingles_and_bands(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    num_hashes: int,
    bands: int,
    pin_g: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """The FAST oracle-replicable MinHash front half: each distinct
    shingle is md5-hashed ONCE into a 60-bit int (15 hex chars), and
    the ``num_hashes`` per-seed values derive from integer universal
    hashing ``(a_i * (h % P) + b_i) % P`` over the Mersenne prime
    P = 2^31 - 1 — exact int64 ops DuckDB replicates verbatim, at
    ~num_hashes integer mul-mods per shingle instead of num_hashes md5
    STRING hashes (the md5-per-seed family measured 5x slower at 32
    hashes: 6.2 s vs the 1.2 s xxhash64 path at sf0.1). Returns
    (g, bandk) like :func:`_md5_shingles_and_bands`: g = (_id, _g
    distinct-shingle strings) for the exact-Jaccard verify, bandk =
    (_id, band, bk) with bk = md5 of the ':'-joined per-band mins.

    ``pin_g=True`` localCheckpoints the shingle relation before the
    signature derivation: a caller fanning g into the band path AND
    both verify join sides would otherwise execute the tokenize +
    md5-per-shingle subtree three times (Catalyst dedupes no common
    subplans). Leave False when only bandk is consumed — pinning would
    materialize doc-sized shingle arrays for nothing.
    """
    rows = num_hashes // bands
    if rows * bands != num_hashes:
        raise ValueError("num_hashes must be divisible by bands")
    tk = docs.select(
        F.col(id_col).alias("_id"),
        F.expr(_norm_tokens_sql(text_col)).alias("_tk"),
    ).filter(F.size("_tk") >= shingle_n)
    ln = F.size("_tk") - (shingle_n - 1)
    grams: Column = F.slice(F.col("_tk"), 1, ln)
    for j in range(1, shingle_n):
        grams = F.zip_with(
            grams,
            F.slice(F.col("_tk"), 1 + j, ln),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    g = tk.select("_id", F.array_distinct(grams).alias("_g"))
    if pin_g:
        g = g.localCheckpoint(eager=True)
    # explode + codegen min-aggs, NOT nested array lambdas (the
    # minhash_signatures lesson: the HOF form ran ~30x slower outside
    # whole-stage codegen); one md5 per shingle instance, H cheap
    # integer mul-mods per row, map-side-combined to H longs per doc
    ex = g.select(
        "_id",
        F.explode(
            F.expr(
                "transform(_g, g -> cast(conv(substring(md5(g), 1, 15),"
                f" 16, 10) as bigint) % {_UH_P}L)"
            )
        ).alias("_h"),
    )
    aggs = []
    for i in range(num_hashes):
        a, b = _uh_consts(i)
        aggs.append(
            F.min(F.expr(f"(_h * {a}L + {b}L) % {_UH_P}L")).alias(f"_s{i}")
        )
    sig = ex.groupBy("_id").agg(*aggs)
    # the band INDEX is hashed into the key so keys are globally unique
    # per band — the oracle then joins unnested keys on plain equality
    # (linear), never a bands-wide OR over a quadratic pair join
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ":",
                        F.lit(str(b)),
                        *[
                            F.col(f"_s{b * rows + r}").cast("string")
                            for r in range(rows)
                        ],
                    )
                ).alias("bk"),
            )
            for b in range(bands)
        ]
    )
    bandk = sig.select("_id", F.explode(band_structs).alias("bs")).select(
        "_id", "bs.band", "bs.bk"
    )
    return g, bandk


def _band_candidate_pairs(bandk: DataFrame) -> DataFrame:
    """(a, b) ordered candidate pairs sharing >= 1 (band, key) bucket —
    the in-bucket pair expansion shared by the md5 and universal-hash
    MinHash families (no self-join: a self-join would re-execute the
    signature subtree on both sides)."""
    buckets = (
        bandk.groupBy("band", "bk")
        .agg(F.array_sort(F.collect_list("_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pair_expand = F.expr(
        """
        flatten(transform(ids, (x, i) ->
          transform(slice(ids, i + 2, size(ids)), y -> struct(x AS a, y AS b))))
        """
    )
    return (
        buckets.select(F.explode(pair_expand).alias("p"))
        .select("p.a", "p.b")
        .dropDuplicates(["a", "b"])
    )


def minhash_candidates_verified(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """MinHash-LSH candidate pairs (no Jaccard verify) over the
    ORACLE-REPLICABLE universal-hash family
    (:func:`_universal_shingles_and_bands`) at the wider 32-hash /
    8-band (4 rows per band) operating point: candidates are exactly
    "pairs sharing >= 1 of ``bands`` band keys", which a DuckDB twin
    states quadratically over regenerated signatures. Emits
    (doc_a, doc_b) with doc_a < doc_b. The xxhash64 banding
    (:func:`minhash_near_dup_candidates`) stays the engine-native
    path — same blocking semantics.
    """
    _, bandk = _universal_shingles_and_bands(
        docs, text_col, id_col, shingle_n, num_hashes, bands
    )
    return _band_candidate_pairs(bandk).select(
        F.col("a").alias("doc_a"), F.col("b").alias("doc_b")
    )


def jaccard_prefiltered_verified(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard over universal-hash MinHash-band candidates — the
    oracle-replicable form of :func:`jaccard_pairs_prefiltered` (32
    hashes / 16 two-row bands, the high-recall prefilter point), with
    the exact shingle-set verify on top. Emits (doc_a, doc_b, jaccard)
    with doc_a < doc_b, 4-dp rounding.
    """
    g, bandk = _universal_shingles_and_bands(
        docs, text_col, id_col, shingle_n, num_hashes, bands, pin_g=True
    )
    cand = _band_candidate_pairs(bandk)
    ga = g.select(F.col("_id").alias("a"), F.col("_g").alias("ga"))
    gb = g.select(F.col("_id").alias("b"), F.col("_g").alias("gb"))
    jac = F.round(
        F.size(F.array_intersect("ga", "gb"))
        / F.size(F.array_union("ga", "gb")).cast("double"),
        4,
    )
    return (
        cand.join(ga, "a")
        .join(gb, "b")
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def near_dup_clusters_star(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 40,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): same output contract as ``near_dup_clusters``
    (``cluster_id`` = min id in component) but O(log n) rounds even on
    adversarial long-chain graphs, where min-label propagation needs
    O(diameter) rounds.

    Each round is two edge rewrites, each one shuffle:
      large-star: for every node u, re-point each HIGHER neighbor
        (v > u) at m = min(N(u) ∪ {u});
      small-star: direct edges high->low, re-point each lower neighbor
        and u itself at m = min(N(u) ∪ {u}).
    The edge set monotonically contracts toward stars rooted at each
    component's minimum; convergence = the edge set is a fixed point of
    both rewrites (checked with one count + anti-join per round, the
    same iteration-inherent driver action as the MLlib-fitter pattern).
    ``localCheckpoint`` truncates lineage per round.
    """

    def canon(df: DataFrame) -> DataFrame:
        # undirected edge set, canonical (lo, hi), self-loops dropped
        return (
            df.select(
                F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return canon(
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        # direct high -> low: u > v for every edge
        directed = e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        m = directed.groupBy("u").agg(F.min("v").alias("m"))
        repoint = directed.join(m, "u").select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        self_edge = m.select("u", F.col("m").alias("v"))
        return canon(repoint.union(self_edge))

    edges = canon(
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    ).localCheckpoint(eager=True)
    for _ in range(max_iters):
        new_edges = small_star(large_star(edges)).localCheckpoint(eager=True)
        stable = (
            new_edges.count() == edges.count()
            and new_edges.exceptAll(edges).isEmpty()
        )
        edges = new_edges
        if stable:
            break
    else:
        raise RuntimeError(
            f"near_dup_clusters_star: not converged in {max_iters} rounds"
        )
    # at the fixed point every non-root node has an edge to its component
    # minimum; roots and isolated ids label themselves
    root = edges.select(F.col("v").alias("id"), F.col("u").alias("label"))
    labels = root.union(
        edges.select(F.col("u").alias("id"), F.col("u").alias("label"))
    ).groupBy("id").agg(F.min("label").alias("label"))
    return (
        ids.select(F.col(id_col).alias("id"))
        .join(labels, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("label", "id").alias("cluster_id"),
        )
    )


# SimHash as SQL expression templates: the bit index `i` is a lambda
# variable, and SQL `shiftleft` accepts arbitrary expressions for the shift
# amount (the PySpark `F.shiftleft` wrapper only takes a Python int).
#
# Two-step on purpose: {hs} must be a plain COLUMN of token hashes computed
# in a separate projection. Referencing it 128 times below is then free;
# inlining the tokenize+hash expression instead would recompute it per bit
# (64x) — measured ~20x slower. CollapseProject keeps the split because the
# producing expression is non-cheap and multiply-referenced.
#
# Step 1: per-token ±1 bit-balance vector, single pass over the hashes.
# Step 2: pack the balance signs into a bigint.
_SIMHASH_BALANCE_EXPR = """
aggregate(
  {hs},
  array_repeat(0, 64),
  (acc, h) -> zip_with(acc, sequence(0, 63),
                (bal, i) -> bal + IF((h & shiftleft(cast(1 as bigint), i)) != 0, 1, -1)))
"""

_SIMHASH_PACK_EXPR = """
aggregate(
  zip_with({bal}, sequence(0, 63), (b, i) -> IF(b > 0, shiftleft(cast(1 as bigint), i), cast(0 as bigint))),
  cast(0 as bigint),
  (acc, v) -> acc + v)
"""


def _norm_tokens_sql(text_col: str) -> str:
    """SQL twin of tokens(normalize_text(col)): lowercase, collapse
    whitespace, split, drop empties."""
    return (
        f"filter(split(regexp_replace(lower(trim({text_col})), '\\\\s+', ' '), ' '),"
        " x -> x != '')"
    )


def jaccard_pairs_prefiltered(
    docs: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.3,
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """Exact Jaccard restricted to MinHash-band candidate pairs.

    ``jaccard_pairs`` is quadratic within each block; this variant needs
    no block column at all — candidates are pairs sharing at least one
    LSH band (linear shuffle in corpus size), and only candidates get the
    exact shingle-set Jaccard. Recall is the standard LSH S-curve:
    1 - (1 - s^r)^b with r = num_hashes/bands rows per band, ~1 for pairs
    well above the threshold; pairs barely at the threshold may be missed
    (that is the approximation being bought).
    """
    cand = minhash_near_dup_candidates(docs, text_col, shingle_n, num_hashes, bands)
    # exact verify over hashed-gram SETS — same Jaccard as string shingles
    # without materializing shingle strings on both join sides
    sh = hashed_shingles(docs, text_col, shingle_n).select(
        "doc_id", F.array_distinct("hs").alias("sh")
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _simhash_signatures_exploded(
    docs: DataFrame, text_col: str, id_col: str, hash_sql: str
) -> DataFrame:
    """Shared SimHash balance/pack over an arbitrary per-token hash
    expression (``hash_sql`` over the exploded token column ``_t``):
    explode + 64 conditional-sum aggregates — the codegen path (the
    minhash_signatures lesson: the interpreted HOF aggregate/zip_with
    template measured ~4x slower), with the empty-token (sh = 0) and
    NULL-text (sh = NULL) contracts of the original template form
    preserved via a join-back. Map-side partial aggregation shrinks the
    shuffle to 64 longs per document."""
    base = docs.select(
        F.col(id_col), F.expr(_norm_tokens_sql(text_col)).alias("_tk")
    )
    ex = (
        base.filter(F.size("_tk") >= 1)
        .select(id_col, F.explode("_tk").alias("_t"))
        .select(id_col, F.expr(hash_sql).alias("_h"))
    )
    aggs = [
        F.sum(
            F.expr(f"IF((_h & shiftleft(cast(1 as bigint), {i})) != 0, 1, -1)")
        ).alias(f"_b{i}")
        for i in range(64)
    ]
    bal = ex.groupBy(id_col).agg(*aggs)
    pack = F.expr(
        " + ".join(
            f"IF(_b{i} > 0, shiftleft(cast(1 as bigint), {i}),"
            " cast(0 as bigint))"
            for i in range(64)
        )
    )
    return base.join(bal, id_col, "left").select(
        id_col,
        F.when(F.size("_tk") >= 1, pack)
        .when(F.size("_tk") == 0, F.lit(0).cast("bigint"))
        .otherwise(F.lit(None).cast("bigint"))
        .alias("sh"),
    )


def simhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, sh: bigint) — 64-bit SimHash of each document's token multiset.

    For each bit position, sum +1/-1 over token xxhash64s and take the
    sign. Entirely JVM-side (no UDF): since r12 this runs on the shared
    explode + conditional-sum aggregate path (bit-identical to the HOF
    template form, test-pinned) — the fast execution family the
    md5-verified twin cross-checks.
    """
    return _simhash_signatures_exploded(docs, text_col, id_col, "xxhash64(_t)")


def simhash_candidates_from_signatures(
    sigs: DataFrame, max_hamming: int = 3, n_chunks: int | None = None
) -> DataFrame:
    """Near-dup pairs from a ``(doc_id, sh: bigint)`` signature DataFrame.

    Blocking is the generalized pigeonhole (cf. Manku, Jain & Das Sarma,
    "Detecting Near-Duplicates for Web Crawling", WWW'07): split the 64-bit
    signature into ``k = n_chunks`` chunks. A pair within Hamming distance
    ``d = max_hamming`` differs in at most d chunks, so it agrees on at
    least ``k - d`` chunks — hence on at least one of the C(k, k-d)
    combinations of k-d chunk positions. The equi-join on
    ``(combo_id, [chunk values])`` therefore finds EVERY pair with
    ``hamming <= max_hamming``; the exact bit_count filter then removes
    false candidates. Requires ``k > d`` (enforced) — with k <= d a pair
    can differ in every chunk and be silently lost.

    ``n_chunks`` trades replication for bucket selectivity: the default
    ``k = d + 1`` replicates each doc d+1 times and joins on single chunks
    of width 64/(d+1) bits; a larger k joins on (k-d)-chunk keys — e.g.
    d=6, k=10 gives 4-chunk ~25-bit keys — far fewer bucket collisions on
    billion-doc corpora at the cost of C(k, k-d) replicas per doc.
    """
    d = max_hamming
    if not 0 <= d < 64:
        raise ValueError(
            f"max_hamming={d} out of range: signatures are 64 bits, so "
            "d >= 64 makes every pair a trivial match (and d < 0 is "
            "meaningless) — block on something else"
        )
    # clamp BEFORE validating: with the old order, a requested k > 64
    # passed the k > d check and was then silently clamped to a value
    # that could be <= d, losing the pigeonhole guarantee
    k = min(d + 1 if n_chunks is None else n_chunks, 64)
    if k <= d:
        raise ValueError(
            f"n_chunks={k} (after clamping to 64) must exceed "
            f"max_hamming={d}: a pair at distance {d} can otherwise "
            "differ in every chunk and be missed"
        )
    n_combos = math.comb(k, k - d)
    if n_combos > 512:
        # C(k, k-d) rows are emitted PER DOCUMENT; e.g. the clamped
        # k=64, d=3 gives 41,664 replicas/doc and a 41k-element literal
        # array in the plan — degenerate, so fail loudly instead
        raise ValueError(
            f"n_chunks={k} with max_hamming={d} replicates each doc "
            f"C({k},{k - d})={n_combos} times (>512); choose a smaller "
            "n_chunks (replication d+1 at n_chunks=d+1 is the minimum)"
        )
    base, rem = divmod(64, k)
    widths = [base + 1 if i < rem else base for i in range(k)]
    offsets = [sum(widths[:i]) for i in range(k)]

    def chunk(i: int) -> Column:
        # offsets/widths are compile-time constants -> plain Python ints,
        # so the PySpark int-only shift wrappers apply
        return F.shiftrightunsigned(F.col("sh"), offsets[i]).bitwiseAND(
            F.lit((1 << widths[i]) - 1)
        )

    combos = list(combinations(range(k), k - d))
    keys = F.array(
        *[
            F.struct(
                F.lit(ci).alias("combo"),
                F.array(*[chunk(i) for i in combo]).alias("cv"),
            )
            for ci, combo in enumerate(combos)
        ]
    )
    chunks = sigs.select("doc_id", "sh", F.explode(keys).alias("ck")).select(
        "doc_id", "sh", "ck.combo", "ck.cv"
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    ham = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (
        a.join(
            b,
            (F.col("a.combo") == F.col("b.combo"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= d)
        .distinct()
    )


def simhash_near_dup_candidates(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    n_chunks: int | None = None,
) -> DataFrame:
    """SimHash near-dup candidate pairs with Hamming verification.

    Finds ALL pairs of documents whose 64-bit SimHash signatures are
    within ``max_hamming`` bits, via the pigeonhole chunk blocking in
    ``simhash_candidates_from_signatures`` (no all-pairs scan).
    """
    return simhash_candidates_from_signatures(
        simhash_signatures(docs, text_col), max_hamming, n_chunks
    )


def simhash_signatures_md5(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash signatures over an ORACLE-REPLICABLE token hash: the
    60-bit integer from the first 15 hex chars of md5(token)
    (``conv(substr(md5(t),1,15),16,10)`` here ==
    ``('0x'||substr(md5(t),1,15))::BIGINT`` in DuckDB). Bits 60-63 are
    never set, so their balance is strictly negative and the packed
    signature simply leaves them 0 in both engines — the shared 64-bit
    balance/pack templates apply unchanged. The xxhash64 variant
    (``simhash_signatures``) stays the fast path; this one exists so a
    DuckDB twin can regenerate identical signatures and the driver hash
    can pin the whole SimHash pipeline cross-engine.

    Since r11 the balance runs as explode + 64 conditional-sum
    aggregates (the minhash_signatures codegen lesson: the interpreted
    HOF aggregate/zip_with form measured ~4x slower on the bench), with
    the empty-token (sh = 0) and NULL-text (sh = NULL) contracts of the
    original template form preserved via a join-back — values
    bit-identical, test-pinned against the template.
    """
    return _simhash_signatures_exploded(
        docs,
        text_col,
        id_col,
        "cast(conv(substring(md5(_t), 1, 15), 16, 10) as bigint)",
    )


def simhash_near_dup_verified(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 6,
    n_chunks: int = 8,
) -> DataFrame:
    """SimHash near-dup pairs with the md5-family signature — same
    pigeonhole blocking as the fast path, but every stage is
    regenerable by an ANSI-SQL oracle. Because the blocking is LOSSLESS
    (a pair within Hamming d always shares a (k-d)-chunk combination)
    and the exact ``bit_count`` filter runs after it, the emitted set is
    exactly "pairs with hamming(sig_a, sig_b) <= d" — which is what the
    quadratic oracle states directly.
    """
    return simhash_candidates_from_signatures(
        simhash_signatures_md5(docs, text_col), max_hamming, n_chunks
    ).withColumn("hamming", F.col("hamming").cast("long"))


def simhash_fast_recall_report(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    n_chunks: int = 4,
) -> DataFrame:
    """The FAST xxhash64 SimHash family run end-to-end, reported as a
    property-bound single row (the GK-percentile pattern): the emitted
    pair set depends on the engine-native hash family no ANSI-SQL twin
    can regenerate, so instead of pair rows this carries (a) exact
    SQL-checkable counts and (b) TRUE-literal invariants of the fast
    pipeline IN the row hash:

    - ``n_docs`` / ``n_exact_dup_groups`` / ``n_exact_dup_pairs``:
      non-NULL-text documents and their byte-identical (normalized)
      duplicate groups/pairs — the oracle recomputes these from
      ``md5(normalized text)`` equality.
    - ``exact_dups_all_found``: EVERY exact-duplicate pair appears in
      the fast pipeline's output with hamming 0. Identical normalized
      text gives identical tokens, hence identical signatures, and the
      pigeonhole blocking is lossless at hamming 0 — so a hash-family
      regression, a blocking bug, or a dropped-chunk mistake flips
      this to false and fails the driver hash.
    - ``pairs_within_bound`` / ``pairs_ordered``: every emitted pair
      respects ``hamming <= max_hamming`` and ``doc_a < doc_b``.

    The md5-family twins (``simhash_near_dup_verified``) keep the
    pair-level cross-engine pinning; this query exists so the headline
    SimHash wall is the production xxhash64 cost (~5x cheaper than the
    md5-string family at sf0.1), not the oracle-replication cost.
    """
    pairs = simhash_candidates_from_signatures(
        simhash_signatures(docs, text_col), max_hamming, n_chunks
    ).localCheckpoint(eager=True)
    h = docs.filter(F.col(text_col).isNotNull()).select(
        "doc_id", content_hash(F.col(text_col)).alias("h")
    )
    groups = (
        h.groupBy("h")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .localCheckpoint(eager=True)
    )
    pair_expand = F.expr(
        """
        flatten(transform(ids, (x, i) ->
          transform(slice(ids, i + 2, size(ids)), y -> struct(x AS a, y AS b))))
        """
    )
    exact_pairs = groups.select(F.explode(pair_expand).alias("p")).select(
        "p.a", "p.b"
    )
    found0 = pairs.filter(F.col("hamming") == 0).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    missed = exact_pairs.join(found0, ["a", "b"], "left_anti").agg(
        (F.count(F.lit(1)) == 0).alias("exact_dups_all_found")
    )
    gstats = groups.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact_dup_groups"),
        F.coalesce(
            F.sum(F.expr("size(ids) * (size(ids) - 1) div 2")), F.lit(0)
        )
        .cast("long")
        .alias("n_exact_dup_pairs"),
    )
    pstats = pairs.agg(
        (F.coalesce(F.max("hamming"), F.lit(0)) <= max_hamming).alias(
            "pairs_within_bound"
        ),
        (
            F.coalesce(
                F.sum(F.expr("IF(doc_a < doc_b, 0, 1)")), F.lit(0)
            )
            == 0
        ).alias("pairs_ordered"),
    )
    nd = h.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        nd.crossJoin(gstats)
        .crossJoin(missed)
        .crossJoin(pstats)
        .select(
            "n_docs",
            "n_exact_dup_groups",
            "n_exact_dup_pairs",
            "exact_dups_all_found",
            "pairs_within_bound",
            "pairs_ordered",
        )
    )


def incremental_dedup(
    new_docs: DataFrame,
    seen_index: DataFrame,
    text_col: str = "text",
    digest_col: str = "h",
) -> DataFrame:
    """Deduplicate an INCREMENTAL ingest batch against an already-built
    corpus without rescanning the corpus — the steady-state shape of a
    100 TB pipeline, where :func:`exact_dedup` is the one-time bootstrap
    and every subsequent delivery only touches the (digest) index table.

    ``seen_index`` is the persisted digest set (a ``digest_col`` column
    of :func:`content_hash` values — what a caller materializes from
    ``exact_dedup``'s ``h`` output). Survivors are new docs whose content
    digest is (a) first within the batch (min doc_id, matching
    exact_dedup's survivor rule) and (b) absent from the index; the
    output's (doc_id, h) rows are exactly the delta to append back to
    the index, closing the loop.

    Plan shape: the batch shuffles once on its 16-byte digests (the
    within-batch min-id agg) and the anti-join against the index is a
    digest-to-digest join — no document bodies move, and with the index
    stored bucketed by digest the join side of it needs no exchange at
    all. Batch-sized work per delivery, never corpus-sized.
    """
    batch = (
        new_docs.select(
            F.col("doc_id"), content_hash(F.col(text_col)).alias(digest_col)
        )
        .groupBy(digest_col)
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_in_batch"))
    )
    return batch.join(
        seen_index.select(digest_col).distinct(), digest_col, "left_anti"
    ).select("doc_id", digest_col, "n_in_batch")


def minhash_index_verified(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """The persisted halves of an incremental near-dup index over the
    md5-verified hash family: ``(band_index, shingle_store)`` =
    ((doc_id, band, bk), (doc_id, sh)). At 100 TB both are written once
    at bootstrap — the band index bucketed by (band, bk) so batch
    probes co-locate, the shingle store bucketed by doc_id so the
    exact-verify fetch is a point lookup per candidate."""
    g, bandk = _md5_shingles_and_bands(
        docs, text_col, id_col, shingle_n, num_hashes, bands
    )
    return (
        bandk.select(F.col("_id").alias("doc_id"), "band", "bk"),
        g.select(F.col("_id").alias("doc_id"), F.col("_g").alias("sh")),
    )


def minhash_incremental_verified(
    new_docs: DataFrame,
    band_index: DataFrame,
    shingle_store: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.3,
) -> DataFrame:
    """Near-dup detection for an INCREMENTAL ingest batch against the
    persisted :func:`minhash_index_verified` — the LSH analogue of
    :func:`incremental_dedup`: band keys are per-document, so banding a
    batch alone and probing the stored index finds EXACTLY the pairs a
    full-corpus rerun would find that touch the batch (batch x batch
    plus batch x corpus); corpus-internal pairs were already known at
    bootstrap. Work per delivery ∝ batch bands + candidates, never
    corpus-sized; the corpus contributes only index probes and
    per-candidate shingle fetches.

    Emits (doc_a, doc_b, jaccard >= threshold), doc_a < doc_b, the
    exact-Jaccard-verified contract of ``minhash_near_dup_verified`` —
    and because the md5 family is oracle-replicable, the driver hash
    pins the whole incremental pipeline too. Assumes batch and corpus
    ids are disjoint (ingest ids are)."""
    g_new, bandk_new = _md5_shingles_and_bands(
        new_docs, text_col, id_col, shingle_n, num_hashes, bands
    )
    new_bands = bandk_new.select(F.col("_id").alias("doc_id"), "band", "bk")
    # batch x corpus probes
    cross = (
        new_bands.alias("n")
        .join(
            band_index.alias("i"),
            (F.col("n.band") == F.col("i.band")) & (F.col("n.bk") == F.col("i.bk")),
        )
        .select(
            F.least(F.col("n.doc_id"), F.col("i.doc_id")).alias("a"),
            F.greatest(F.col("n.doc_id"), F.col("i.doc_id")).alias("b"),
        )
    )
    # batch x batch
    within = (
        new_bands.alias("x")
        .join(
            new_bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bk") == F.col("y.bk"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
    )
    cand = cross.union(within).dropDuplicates(["a", "b"])
    shingles = shingle_store.unionByName(
        g_new.select(F.col("_id").alias("doc_id"), F.col("_g").alias("sh"))
    )
    ga = shingles.select(F.col("doc_id").alias("a"), F.col("sh").alias("ga"))
    gb = shingles.select(F.col("doc_id").alias("b"), F.col("sh").alias("gb"))
    jac = F.round(
        F.size(F.array_intersect("ga", "gb"))
        / F.size(F.array_union("ga", "gb")).cast("double"),
        4,
    )
    return (
        cand.join(ga, "a")
        .join(gb, "b")
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    docs: DataFrame,
    block_col: str = "source",
    text_col: str = "text",
    shingle_n: int = 1,
    threshold: float = 0.6,
) -> DataFrame:
    """ASYMMETRIC containment similarity: for ordered pairs (a, b) in
    the same block, ``containment = |sh(a) ∩ sh(b)| / |sh(a)|`` — the
    fraction of a's distinct shingles that also appear in b.

    This is the quote/subset detector Jaccard structurally misses:
    when a short document is wholly embedded in a much longer one,
    Jaccard ≈ |a|/|b| stays far below any near-dup threshold while
    containment is ~1 (Broder 1997 distinguishes exactly these two
    resemblance measures). Output rows (doc_id, container_id,
    containment >= threshold) with doc_id != container_id — both
    directions of a pair are evaluated since the measure is
    directional. The result is the quadratic in-block formulation.

    Plan: ``_block_pairs``, the kernel ``jaccard_pairs`` runs — one
    task per block, per-block work O(n^2 * V) for n documents and V
    shared grams, per-task temps bounded by the tile constants, exact
    float64 counts below 2^53. Each intersection serves both
    directions.
    """
    import numpy as np

    def emit(ids, sz, i, j, inter):
        a, b = np.concatenate([i, j]), np.concatenate([j, i])
        x = np.concatenate([inter, inter])
        v = x / sz[a]
        keep = (v >= threshold) & (ids[a] != ids[b])
        return ids[a[keep]], ids[b[keep]], v[keep]

    return _block_pairs(
        docs,
        block_col,
        text_col,
        shingle_n,
        ("doc_id", "container_id", "containment"),
        emit,
    )


def golden_record(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Field-wise survivorship merge — the "golden record" step of
    entity resolution: one synthesized row per near-dup cluster where
    EACH field keeps its own best member value (canonical id = min id;
    text from the longest member; lang/source = the modal value), as
    opposed to :func:`near_dup_clusters` + whole-row argmax
    (dedup_cluster_canonical) which keeps one member verbatim.

    Tie contracts (everything deterministic cross-engine): longest
    text ties break to the smaller doc_id; modal-value ties break to
    the lexicographically smaller value. All three selections are
    rank-1 window picks over cluster-keyed rows (one row per member /
    per distinct member value — never a cluster self-join), so the
    whole merge is a few bounded window passes at any corpus size.
    """
    j = docs.join(clusters, id_col)
    w_text = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col(id_col)
    )
    base = (
        j.withColumn("_rn", F.row_number().over(w_text))
        .groupBy("cluster_id")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_members"),
            F.max(F.when(F.col("_rn") == 1, F.col("text"))).alias("text"),
            F.max(F.when(F.col("_rn") == 1, F.col("n_chars"))).alias(
                "n_chars"
            ),
        )
    )

    def modal(col: str) -> DataFrame:
        cnt = j.groupBy("cluster_id", col).agg(
            F.count(F.lit(1)).alias("_c")
        )
        w = Window.partitionBy("cluster_id").orderBy(
            F.col("_c").desc(), F.col(col)
        )
        return (
            cnt.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("cluster_id", col)
        )

    return (
        base.join(modal("lang"), "cluster_id")
        .join(modal("source"), "cluster_id")
        .select(
            "cluster_id",
            "canonical_id",
            "n_members",
            "lang",
            "source",
            "n_chars",
            "text",
        )
    )


def fs_weights(m: float, u: float) -> tuple[str, str]:
    """Fellegi-Sunter field weights as 6dp-decimal STRING literals:
    agreement weight log2(m/u), disagreement weight log2((1-m)/(1-u)).
    Quantized half-up in Python once — both engines then consume the
    identical exact decimal constants (the BM25 rule applied to model
    parameters), so scores are engine-independent."""
    from decimal import ROUND_HALF_UP, Decimal

    if not (0.0 < u < m < 1.0):
        raise ValueError(f"fs_weights needs 0 < u < m < 1 ({m=}, {u=})")
    q = Decimal("0.000001")

    def _q(x: float) -> str:
        return str(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))

    return _q(math.log2(m / u)), _q(math.log2((1 - m) / (1 - u)))


def fellegi_sunter_link(
    left: DataFrame,
    right: DataFrame,
    block_on: Column,
    comparisons: list[tuple[str, Column, float, float]],
    lower: float,
    upper: float,
) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (JASA 1969) — the
    statistical framework behind every production entity-resolution
    system: candidate pairs from a blocking join are scored by the sum
    of per-field log-likelihood weights (agreement on field i is
    log2(m_i/u_i) evidence FOR a match, disagreement log2((1-m_i)/(1-u_i))
    evidence against), then classified match / possible / non_match by
    the two decision thresholds.

    ``comparisons`` is [(field_name, agreement_boolean_column, m, u)]
    with the agreement column written against the joined pair (alias
    the inputs ``a`` and ``b``). m/u are the match/unmatch agreement
    probabilities; weights quantize to exact 6dp decimals ONCE
    (``fs_weights``) so the decimal score sum — and therefore the
    classification — is bit-identical cross-engine.

    Scale shape: one equi-join on the blocking key (pair volume =
    sum(block²), the record-linkage design cost — pick blocks like the
    k-anonymity classes, bounded by the key domain); scoring is a
    narrow projection; NULL agreement (missing field) contributes the
    disagreement weight, the conservative Fellegi-Sunter convention.

    Returns the pair-level frame with per-field agreement flags, the
    exact decimal ``score``, and ``classification``.
    """
    clash = set(left.columns) & set(right.columns)
    if clash:
        raise ValueError(
            "fellegi_sunter_link: left/right column names must be disjoint "
            f"(both sides land in the output); rename {sorted(clash)}"
        )
    lhs = left.alias("a")
    rhs = right.alias("b")
    pairs = lhs.join(rhs, block_on)
    score = F.lit("0").cast("decimal(18,6)")
    out_cols = []
    for name, agree, m, u in comparisons:
        wa, wd = fs_weights(m, u)
        flag = F.coalesce(agree, F.lit(False))
        pairs_col = f"agree_{name}"
        out_cols.append(flag.alias(pairs_col))
        score = score + F.when(flag, F.lit(wa).cast("decimal(18,6)")).otherwise(
            F.lit(wd).cast("decimal(18,6)")
        )
    # thresholds compare in the DECIMAL domain: a double literal like
    # 6.1 is not binary-representable and a decimal-vs-double promotion
    # could flip an exact-tie classification between engines
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal("0.000001")
    lo = str(Decimal(repr(lower)).quantize(q, rounding=ROUND_HALF_UP))
    hi = str(Decimal(repr(upper)).quantize(q, rounding=ROUND_HALF_UP))
    classification = (
        F.when(F.col("score") >= F.lit(hi).cast("decimal(18,6)"), F.lit("match"))
        .when(F.col("score") <= F.lit(lo).cast("decimal(18,6)"), F.lit("non_match"))
        .otherwise(F.lit("possible"))
    )
    return (
        pairs.select("a.*", "b.*", *out_cols, score.alias("score"))
        .withColumn("classification", classification)
    )


def fs_em(
    pairs: DataFrame,
    flag_cols: list[str],
    iters: int = 3,
    p0_units: int = 100_000,
    m0_units: int = 900_000,
    u0_units: int = 100_000,
) -> DataFrame:
    """EM estimation of the Fellegi-Sunter m/u/p parameters from
    UNLABELED candidate pairs (Winkler 1988) — where the
    :func:`fellegi_sunter_link` weights come from when no training
    labels exist: treat match status as the latent variable, E-step the
    per-pattern match probability, M-step the parameters, repeat.

    Fixed-point contract (the PageRank/HITS rules): probabilities live
    in 1e-6 units, pattern weights in 1e-12 units; the E-step product
    ``p * prod_i (g_i ? m_i : 1e6 - m_i)`` is exact DECIMAL(38,0)
    integer arithmetic and the one normalization per quantity is
    ``(num * SCALE) div den`` — Spark decimal ``div`` == DuckDB HUGEINT
    ``//`` (probed r07). 38 digits bound the field count:
    6*(F+1) + 12 <= 38 requires F <= 3 (raise otherwise). Parameters
    clamp to [1, 1e6-1] each round (standard EM guard against absorbing
    0/1, and it keeps every denominator positive).

    Scale: the ONLY corpus-sized work is one aggregation of the pair
    relation into <= 2^F pattern-count rows; all ``iters`` EM rounds
    fold into one expression over that tiny table, one job. Output: one
    row per field ``(field, m_units, u_units, p_units, m, u, p)`` with
    the floats derived by one exact division each. An empty pair
    relation gives every parameter the upper clamp 1e6 - 1.
    """
    pat, params = _fs_em_loop(
        pairs, flag_cols, iters, p0_units, m0_units, u0_units
    )
    P6 = 10**6
    rows = None
    for i, name in enumerate(flag_cols):
        r = params.select(
            F.lit(name).alias("field"),
            F.col(f"_m{i}").cast("long").alias("m_units"),
            F.col(f"_u{i}").cast("long").alias("u_units"),
            F.col("_p").cast("long").alias("p_units"),
            (F.col(f"_m{i}").cast("double") / F.lit(float(P6))).alias("m"),
            (F.col(f"_u{i}").cast("double") / F.lit(float(P6))).alias("u"),
            (F.col("_p").cast("double") / F.lit(float(P6))).alias("p"),
        )
        rows = r if rows is None else rows.unionAll(r)
    return rows


def _fs_em_products(nf: int, dec: str) -> tuple[Column, Column]:
    """The E-step class likelihood products over _g{i}/_m{i}/_u{i}."""
    P6 = 10**6
    num_m = F.col("_p")
    num_u = F.lit(P6).cast(dec) - F.col("_p")
    for i in range(nf):
        g = F.col(f"_g{i}")
        num_m = num_m * F.when(g, F.col(f"_m{i}")).otherwise(
            F.lit(P6).cast(dec) - F.col(f"_m{i}")
        )
        num_u = num_u * F.when(g, F.col(f"_u{i}")).otherwise(
            F.lit(P6).cast(dec) - F.col(f"_u{i}")
        )
    return num_m, num_u


def _fs_em_loop(
    pairs: DataFrame,
    flag_cols: list[str],
    iters: int,
    p0_units: int,
    m0_units: int,
    u0_units: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared EM machinery: returns (pattern-count table, final 1-row
    parameter table) — both checkpointed."""
    nf = len(flag_cols)
    if nf == 0:
        raise ValueError("fs_em needs at least one agreement column")
    if len(set(flag_cols)) != nf:
        raise ValueError("fs_em flag_cols must be distinct")
    if nf > 3:
        raise ValueError(
            "fs_em fixed-point layout bounds fields at 3 "
            f"(6*(F+1)+12 <= 38 decimal digits); got {nf}"
        )
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    P6, P12 = 10**6, 10**12
    for v, name in ((p0_units, "p0"), (m0_units, "m0"), (u0_units, "u0")):
        if not 0 < v < P6:
            raise ValueError(f"{name}_units must be in (0, 1e6), got {v}")
    dec = "decimal(38,0)"
    pat = (
        pairs.groupBy(
            *[F.col(c).cast("boolean").alias(f"_g{i}") for i, c in enumerate(flag_cols)]
        )
        .agg(F.count(F.lit(1)).alias("_n"))
        .localCheckpoint(eager=True)
    )
    # The rounds iterate over <= 2^F pattern rows, so the whole EM —
    # every E-step likelihood, posterior weight, M-step sum and clamp —
    # folds into one expression over the collected pattern list (the
    # markov_removal lesson): DECIMAL(38,0) products, truncating
    # divisions, then the [1, 1e6-1] clamp (Python-mirror-tested).
    pats1 = pat.agg(
        F.collect_list(
            F.struct(
                F.array(*[F.col(f"_g{i}") for i in range(nf)]).alias("g"),
                F.col("_n").cast(dec).alias("n"),
            )
        ).alias("_pats")
    )
    czero = f"CAST(0 AS {dec})"

    def lik(start: str, off: int) -> str:
        # Π over fields of (g_i ? param_i : 1e6 - param_i), seeded
        # with `start` — the _fs_em_products left-to-right order
        return (
            f"aggregate(sequence(0, {nf - 1}), {start}, (ac, i) -> "
            f"CAST(ac * (CASE WHEN element_at(x.g, i + 1) "
            f"THEN element_at(pp, i + {off}) "
            f"ELSE CAST({P6} AS {dec}) - element_at(pp, i + {off}) "
            f"END) AS {dec}))"
        )

    nm = lik("element_at(pp, 1)", 2)
    nu = lik(f"CAST({P6} AS {dec}) - element_at(pp, 1)", nf + 2)
    zero_vec = f"transform(sequence(0, {nf - 1}), z -> {czero})"
    sums = (
        f"aggregate(_pats, named_struct("
        f"'tw', {czero}, 'tnw', {czero}, 'nn', {czero}, "
        f"'am', {zero_vec}, 'au', {zero_vec}), (s, x) -> "
        f"aggregate(array({nm}), s, (s1, nmv) -> "
        f"aggregate(array({nu}), s1, (s2, nuv) -> "
        f"aggregate(array((nmv * CAST({P12} AS {dec})) div (nmv + nuv)), "
        f"s2, (s3, wv) -> named_struct("
        f"'tw', CAST(s3.tw + x.n * wv AS {dec}), "
        f"'tnw', CAST(s3.tnw + x.n * (CAST({P12} AS {dec}) - wv) "
        f"AS {dec}), "
        f"'nn', CAST(s3.nn + x.n AS {dec}), "
        f"'am', zip_with(s3.am, sequence(0, {nf - 1}), (a, i) -> "
        f"CAST(a + CASE WHEN element_at(x.g, i + 1) THEN x.n * wv "
        f"ELSE {czero} END AS {dec})), "
        f"'au', zip_with(s3.au, sequence(0, {nf - 1}), (a, i) -> "
        f"CAST(a + CASE WHEN element_at(x.g, i + 1) "
        f"THEN x.n * (CAST({P12} AS {dec}) - wv) "
        f"ELSE {czero} END AS {dec})))))))"
    )

    def cl(v: str) -> str:
        return (
            f"greatest(CAST(1 AS {dec}), "
            f"least(CAST({P6 - 1} AS {dec}), CAST({v} AS {dec})))"
        )

    new_p = cl(
        f"(s.tw * CAST({P6} AS {dec})) div (s.nn * CAST({P12} AS {dec}))"
    )
    new_m = (
        f"transform(sequence(0, {nf - 1}), i -> "
        + cl(f"(element_at(s.am, i + 1) * CAST({P6} AS {dec})) div s.tw")
        + ")"
    )
    new_u = (
        f"transform(sequence(0, {nf - 1}), i -> "
        + cl(f"(element_at(s.au, i + 1) * CAST({P6} AS {dec})) div s.tnw")
        + ")"
    )
    # no pattern rows: every M-step sum is empty, so every parameter
    # clamps to the upper bound (the NULL-sum clamp of SQL rounds)
    top = f"array_repeat(CAST({P6 - 1} AS {dec}), {2 * nf + 1})"
    init = ", ".join(
        [f"CAST({p0_units} AS {dec})"]
        + [f"CAST({m0_units} AS {dec})"] * nf
        + [f"CAST({u0_units} AS {dec})"] * nf
    )
    fold = (
        f"aggregate(sequence(1, {iters}), array({init}), (pp, it) -> "
        f"aggregate(array({sums}), pp, (q, s) -> "
        f"CASE WHEN s.nn = {czero} THEN {top} "
        f"ELSE concat(array({new_p}), {new_m}, {new_u}) END))"
    )
    params = (
        pats1.select(F.expr(fold).alias("_pp"))
        .select(
            F.expr("element_at(_pp, 1)").alias("_p"),
            *[F.expr(f"element_at(_pp, {i + 2})").alias(f"_m{i}") for i in range(nf)],
            *[
                F.expr(f"element_at(_pp, {nf + i + 2})").alias(f"_u{i}")
                for i in range(nf)
            ],
        )
        .localCheckpoint(eager=True)
    )
    return pat, params


def fs_em_fit(
    pairs: DataFrame,
    flag_cols: list[str],
    iters: int = 3,
    p0_units: int = 100_000,
    m0_units: int = 900_000,
    u0_units: int = 100_000,
) -> DataFrame:
    """Model-fit diagnostics for :func:`fs_em` — the conditional-
    independence audit: FS assumes fields agree independently given
    match status, and the fit test is whether the fitted two-class
    mixture reproduces the OBSERVED agreement-pattern counts. Per
    pattern: observed n, the model-expected count (N times the mixture
    likelihood, floor — exact fixed-point: (N·(num_m+num_u)) div
    1e6^(F+1)), the signed residual, and the match posterior in 1e-12
    units. Large residuals localize which field pair violates the
    independence assumption.

    Same scale/exactness contract as :func:`fs_em` (one corpus pass,
    <= 2^F-row rounds, HUGEINT-parity divisions).
    """
    pat, params = _fs_em_loop(
        pairs, flag_cols, iters, p0_units, m0_units, u0_units
    )
    nf = len(flag_cols)
    P6, P12 = 10**6, 10**12
    dec = "decimal(38,0)"
    j = pat.crossJoin(F.broadcast(params))
    num_m, num_u = _fs_em_products(nf, dec)
    scored = j.select(
        "*",
        num_m.alias("_num_m"),
        num_u.alias("_num_u"),
        F.sum("_n").over(Window.partitionBy()).cast(dec).alias("_nn"),
    )
    lik_scale = P6 ** (nf + 1)
    pattern = F.concat(
        *[
            F.when(F.col(f"_g{i}"), F.lit("1")).otherwise(F.lit("0"))
            for i in range(nf)
        ]
    )
    expected = F.expr(
        f"(_nn * (_num_m + _num_u)) div CAST({lik_scale} AS {dec})"
    ).cast("long")
    post = F.expr(
        f"(_num_m * CAST({P12} AS {dec})) div (_num_m + _num_u)"
    ).cast("long")
    return scored.select(
        pattern.alias("pattern"),
        F.col("_n").cast("long").alias("n_obs"),
        expected.alias("expected_n"),
        (F.col("_n").cast("long") - expected).alias("residual"),
        post.alias("match_post_units"),
        (post.cast("double") / F.lit(float(P12))).alias("match_post"),
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    sort_col: str,
    id_col: str,
    window: int = 4,
    bucket_prefix_len: int = 2,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez-Stolfo SIGMOD 1995) — the
    third blocking strategy next to equi-key blocks
    (:func:`fellegi_sunter_link`) and symmetric-delete variants
    (:func:`edit_distance_pairs`): sort the corpus by a discriminating
    key and emit every pair within ``window`` positions. Catches
    near-misses that share a PREFIX neighborhood but no exact block key
    (typo'd tails, truncations), with pair volume EXACTLY n*window —
    no block-size quadratic at all.

    Scale contract: the global sort rank is the bucketed parallel
    prefix (the global_prefix_sum shape over an order-consistent
    ``bucket_prefix_len``-char prefix of the sort key — never a
    single-partition window); the neighborhood join is a BAND join on
    rank-group ``(rank-1) div window`` (each left row probes its own
    and the next group — 2 probes, bounded fan-out), so shuffle is
    ∝ rows, not blocks². Ties in ``sort_col`` are totally ordered by
    ``id_col`` (the rank is deterministic).

    Contract: rows with a NULL sort key are EXCLUDED (filtered
    explicitly, not silently lost) — a NULL key has no position in
    the sort order, so it can anchor no neighborhood; substring(NULL)
    would otherwise mint a NULL prefix bucket that never equi-joins,
    dropping the rows from pairs while still occupying ranks. Callers
    who want NULL-key rows blocked should coalesce the key to a
    sentinel before calling.

    Output: (a_id, b_id, a_key, b_key, rank_gap) with a_rank < b_rank,
    0 < rank_gap <= window.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if bucket_prefix_len < 1:
        raise ValueError("bucket_prefix_len must be >= 1")
    base = df.filter(F.col(sort_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(sort_col).alias("_key")
    )
    b = F.substring(F.col("_key"), 1, bucket_prefix_len)
    d = base.withColumn("_pb", b)
    w_local = Window.partitionBy("_pb").orderBy("_key", "_id")
    local = d.withColumn("_lr", F.row_number().over(w_local))
    totals = d.groupBy("_pb").agg(F.count(F.lit(1)).alias("_bt"))
    w_off = Window.orderBy("_pb").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_pb", F.coalesce(F.sum("_bt").over(w_off), F.lit(0)).alias("_off")
    )
    ranked = local.join(F.broadcast(offsets), "_pb").select(
        "_id",
        "_key",
        (F.col("_lr") + F.col("_off")).cast("long").alias("_rank"),
    )
    left = ranked.select(
        F.col("_id").alias("a_id"),
        F.col("_key").alias("a_key"),
        F.col("_rank").alias("_ra"),
        F.explode(
            F.array(
                F.expr(f"(_rank - 1) div {window}"),
                F.expr(f"(_rank - 1) div {window} + 1"),
            )
        ).alias("_g"),
    )
    right = ranked.select(
        F.col("_id").alias("b_id"),
        F.col("_key").alias("b_key"),
        F.col("_rank").alias("_rb"),
        F.expr(f"(_rank - 1) div {window}").alias("_g"),
    )
    return (
        left.join(right, "_g")
        .filter(
            (F.col("_rb") > F.col("_ra"))
            & (F.col("_rb") - F.col("_ra") <= window)
        )
        .select(
            "a_id",
            "b_id",
            "a_key",
            "b_key",
            (F.col("_rb") - F.col("_ra")).cast("long").alias("rank_gap"),
        )
    )


def reciprocal_best_match(
    scored_pairs: DataFrame,
    a_id: str,
    b_id: str,
    score_col: str,
) -> DataFrame:
    """One-to-one entity assignment from scored candidate pairs — the
    RESOLVE step that closes the linkage pipeline (block → score → EM →
    fit audit → assign): keep a pair iff it is the best-scoring
    candidate for BOTH of its records (reciprocal best match, the
    standard greedy-free approximation to bipartite matching that needs
    no sequential auction).

    Determinism: "best" is rank 1 under the total order
    ``(score DESC, other_id ASC)`` on each side — ties break to the
    smaller partner id, so the assignment is a pure function of the
    scores (which, from :func:`fellegi_sunter_link`, are exact
    decimals). Two rank windows on the two id keys — two bucket-keyed
    exchanges over the candidate pairs, nothing else; mutual-rank-1
    filtering is a projection.

    Each record appears in at most one output row (rank 1 is unique per
    side under a total order) — the one-to-one guarantee.
    """
    wa = Window.partitionBy(a_id).orderBy(
        F.col(score_col).desc(), F.col(b_id).asc()
    )
    wb = Window.partitionBy(b_id).orderBy(
        F.col(score_col).desc(), F.col(a_id).asc()
    )
    return (
        scored_pairs.withColumn("_ra", F.row_number().over(wa))
        .withColumn("_rb", F.row_number().over(wb))
        .filter((F.col("_ra") == 1) & (F.col("_rb") == 1))
        .drop("_ra", "_rb")
    )


def duplicated_substring_spans(
    docs: DataFrame,
    gram: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Cross-document duplicated-substring span extraction — the exact
    substring-dedup primitive of LLM training-data curation (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"):
    find, per document, the maximal token spans every part of which is
    covered by a word ``gram``-gram occurring at least ``min_count``
    times in the whole corpus (elsewhere OR repeated within the same
    document). Downstream, the spans are what gets cut — unlike
    whole-document MinHash/SimHash dedup, this catches boilerplate and
    quoted blocks embedded in otherwise-unique documents.

    Mechanics: normalize (lower, collapse whitespace — the corpus_ngrams
    convention), posexplode the ``gram``-gram array (1-based positions),
    hash each gram (md5), count occurrences corpus-wide, keep grams with
    count >= min_count, and merge each document's covered intervals
    [p, p+gram-1] into maximal spans (islands-and-gaps: a new island
    starts when the next position exceeds the previous start + gram —
    same-length intervals make the running max end just lag(p)+gram-1,
    with adjacency merged).

    Scale: the gram table is ~tokens-per-corpus rows but carries only
    (id, pos, 16-byte md5) — never the text; the count aggregation is
    map-side combined; only DUPLICATED gram positions (∝ duplicated
    content, not corpus size) flow into the per-document window; the
    window partitions by document (bounded). No all-pairs term anywhere.
    Reference-parity note: the reference engine has no substring dedup —
    this is part of the demanded LLM-pipeline extension surface.

    Output per (document, span): (id_col, span_start, span_end,
    span_len, n_dup_grams), positions 1-based token indices, spans
    non-overlapping within a document.
    """
    if gram < 2:
        raise ValueError(f"gram must be >= 2, got {gram}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    g = gram_positions(docs, gram, id_col, text_col)
    counts = (
        g.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .filter(F.col("_cnt") >= min_count)
    )
    dup = g.join(counts.select("_h"), "_h")
    return merge_position_spans(dup, gram, id_col, "n_dup_grams")


def gram_positions(
    docs: DataFrame, gram: int, id_col: str, text_col: str
) -> DataFrame:
    """(_id, _pos, _h): every word ``gram``-gram of each document as a
    1-based token position plus its md5 — normalized with the
    corpus_ngrams convention (lower, collapse whitespace). The shared
    front end of substring-level dedup and span decontamination: only
    (id, pos, 16-byte digest) ever shuffles, never text."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    toked = docs.select(
        F.col(id_col).alias("_id"), tokens(norm).alias("_tk")
    ).filter(F.size("_tk") >= gram)
    return toked.select(
        "_id",
        F.posexplode(ngram_array(F.col("_tk"), gram)).alias("_p0", "_gram"),
    ).select(
        "_id",
        (F.col("_p0") + 1).alias("_pos"),
        F.md5(F.col("_gram")).alias("_h"),
    )


def merge_position_spans(
    flagged: DataFrame, gram: int, id_col: str, count_alias: str
) -> DataFrame:
    """Islands-and-gaps merge of flagged gram positions into maximal
    per-document spans: each position covers [p, p+gram-1]; same-length
    intervals make the running max end just lag(p)+gram-1, so a new
    island starts exactly when p > lag(p) + gram (adjacency merges).
    Input: (_id, _pos); window partitions per document (bounded)."""
    w = Window.partitionBy("_id").orderBy("_pos")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lagp = F.lag("_pos").over(w)
    brk = F.when(
        lagp.isNull() | (F.col("_pos") > lagp + F.lit(gram)), 1
    ).otherwise(0)
    isl = flagged.select(
        "_id", "_pos", F.sum(brk).over(w_run).alias("_island")
    )
    return (
        isl.groupBy("_id", "_island")
        .agg(
            F.min("_pos").alias("_lo"),
            F.max("_pos").alias("_hi"),
            F.count(F.lit(1)).alias(count_alias),
        )
        .select(
            F.col("_id").alias(id_col),
            F.col("_lo").cast("long").alias("span_start"),
            (F.col("_hi") + gram - 1).cast("long").alias("span_end"),
            (F.col("_hi") + gram - F.col("_lo")).cast("long").alias("span_len"),
            count_alias,
        )
    )


def decontaminate_span_report(
    docs: DataFrame,
    benchmark: DataFrame,
    gram: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Span-LEVEL benchmark decontamination — the surgical upgrade of
    the GPT-3-style whole-document n-gram screen
    (:func:`..operators.text.ngram_decontaminate`): instead of flagging
    a document for sharing ANY gram with the benchmark, report the
    exact maximal token spans covered by benchmark grams, so curation
    can cut the contaminated spans and keep the rest of the document
    (the Lee-et-al substring machinery pointed at an external reference
    set instead of the corpus itself).

    Scale: the corpus side reduces to (id, pos, digest); the benchmark
    side to a DISTINCT digest set that broadcasts (benchmarks are
    small by construction — the ngram_decontaminate posture); shuffle
    after the join is proportional to CONTAMINATED positions only.

    Output per (document, span): (id_col, span_start, span_end,
    span_len, n_bench_grams) — 1-based token positions in the
    normalized (lower, collapsed-whitespace) tokenization.
    """
    if gram < 2:
        raise ValueError(f"gram must be >= 2, got {gram}")
    g = gram_positions(docs, gram, id_col, text_col)
    bench = (
        gram_positions(benchmark, gram, id_col, bench_text_col)
        .select("_h")
        .distinct()
    )
    flagged = g.join(F.broadcast(bench), "_h")
    return merge_position_spans(flagged, gram, id_col, "n_bench_grams")


def cut_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """APPLY substring-level dedup/decontamination: remove the token
    spans reported by :func:`duplicated_substring_spans` /
    :func:`decontaminate_span_report` from each document and emit the
    cleaned text — the CUT step that makes span detection actionable
    (Lee et al. cut duplicated spans rather than dropping documents).

    Contract: span positions are 1-based indices into the NORMALIZED
    token stream (lower, collapsed whitespace — the same corpus_ngrams
    convention the span extractors use), so the cleaned text is the
    space-join of the surviving normalized tokens. Documents with no
    spans pass through with their normalized token join (the
    normalization is part of the pipeline, not a side effect); a
    NULL-text document emits ('', 0, 0) — its token array coalesces to
    empty, matching the oracle convention.

    Plan: spans collapse to one struct-array row per document (bounded
    by spans-per-doc), join onto the corpus, and the cut is ONE
    JVM-side indexed higher-order filter — no explode, no per-token
    shuffle; the only exchanges are the span collapse and the join.

    Output: (id_col, text_clean, n_tokens, n_tokens_removed).
    """
    sp = spans.groupBy(F.col(id_col).alias("_id")).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("_spans")
    )
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    # NULL text coalesces to an EMPTY token array (the oracle-side
    # COALESCE convention): without it _tk = NULL makes n_tokens =
    # size(NULL) = -1 and text_clean = NULL, breaking the "documents
    # pass through normalized" contract — NULL-text docs emit ('', 0, 0)
    toked = docs.select(
        F.col(id_col).alias("_id"),
        F.coalesce(
            tokens(norm), F.array().cast("array<string>")
        ).alias("_tk"),
    )
    empty = F.array().cast("array<struct<s:bigint,e:bigint>>")
    joined = toked.join(sp, "_id", "left").select(
        "_id", "_tk", F.coalesce(F.col("_spans"), empty).alias("_spans")
    )
    # Spark HOF index is 0-based; span positions are 1-based
    kept = F.filter(
        F.col("_tk"),
        lambda x, i: F.size(
            F.filter(
                F.col("_spans"),
                lambda sp_: ((i + 1) >= sp_["s"]) & ((i + 1) <= sp_["e"]),
            )
        )
        == 0,
    )
    return joined.select(
        F.col("_id").alias(id_col),
        F.array_join(kept, " ").alias("text_clean"),
        F.size("_tk").cast("long").alias("n_tokens"),
        (F.size("_tk") - F.size(kept)).cast("long").alias("n_tokens_removed"),
    )
