"""Text analysis operators (SURVEY.md §2.12 mandate).

Language-ID (stopword heuristic), quality scoring, token counting,
and document fingerprinting — all as JVM-side column expressions
(no Python in the hot path), each with an exact ANSI-SQL twin for the
DuckDB oracle. Designed to run as a single narrow projection over a
100 TB documents table: no shuffle, no UDF, fully codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.operators.dedup import (  # noqa: F401
    normalized_fingerprint,
    token_set,
    tokens,
)

# small deterministic stopword sets for the language heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "de": ["der", "die", "und", "das", "ist", "ein", "nicht", "mit"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est"],
}


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def unique_token_count(col: Column) -> Column:
    return F.size(token_set(col))


def stopword_hits(tok_set: Column, lang: str) -> Column:
    """Distinct stopwords of ``lang`` present in the token set."""
    stop = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.array_intersect(tok_set, stop))


def lang_scores(tok_set: Column) -> dict[str, Column]:
    return {lang: stopword_hits(tok_set, lang) for lang in STOPWORDS}


def predict_lang(tok_set: Column) -> Column:
    """Argmax language by stopword hits, fixed priority order on ties
    (en > es > de > fr), 'und' (undetermined) when nothing hits."""
    scores = lang_scores(tok_set)
    langs = list(STOPWORDS)
    best = F.greatest(*[scores[lang] for lang in langs])
    expr = F.when(best == 0, F.lit("und"))
    for lang in langs:
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr


# GPT-2-style pre-tokenizer pattern, restricted to constructs that
# Java regex (Spark) and RE2 (DuckDB oracle) evaluate identically: no
# lookahead (RE2 lacks it), ASCII classes only (the engines' \w/unicode
# property semantics differ). Matches contraction suffixes, space-glued
# letter runs, digit runs, and punctuation runs; whitespace not claimed
# by a leading ' ?' is simply skipped by extract-all, which replaces the
# canonical pattern's '\s+(?!\S)' tail.
BPE_REGEX = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_tokens(col: Column) -> Column:
    """BPE-ish pre-tokens of raw text (case preserved, leading space
    kept on the token — the GPT-2 convention). A cheap, codegen'd
    stand-in for a real BPE vocab merge: counts from this pattern track
    true BPE token counts closely enough for length filtering and
    cost estimation over a 100 TB corpus."""
    return F.regexp_extract_all(col, F.lit(BPE_REGEX), 0)


def bpe_token_count(col: Column) -> Column:
    return F.size(bpe_tokens(col))


SHINGLE_K = 3      # tokens per shingle
SKETCH_SIZE = 8    # bottom-k sketch size


def shingle_fingerprint(text: Column, k: int = SHINGLE_K,
                        sketch: int = SKETCH_SIZE) -> Column:
    """Document fingerprint: bottom-``sketch`` of the k-gram shingle
    rolling hashes (order-sensitive, unlike the token-set ops) — two
    docs' fingerprint overlap estimates their shingle-set jaccard,
    the standard winnowing-style near-dup sketch.

    Hash = first 60 bits of md5 over the space-joined shingle, so the
    oracle reproduces it exactly. Guarded for docs shorter than k
    tokens (Spark ``sequence(0, n)`` with negative n counts DOWN —
    the guard is load-bearing).
    """
    toks = tokens(text)
    n = F.size(toks)
    shingles = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.conv(
            F.substring(
                F.md5(F.concat_ws(" ", F.slice(toks, i + 1, k))), 1, 15
            ),
            16, 10,
        ).cast("long"),
    )
    return F.when(
        n >= k,
        F.slice(F.array_sort(F.array_distinct(shingles)), 1, sketch),
    ).otherwise(F.array().cast("array<long>"))


def shingle_fingerprints_df(docs, text_col: str = "text",
                            id_col: str = "doc_id",
                            k: int = SHINGLE_K,
                            sketch: int = SKETCH_SIZE):
    """(id, fingerprint) per doc — the bulk/scale shape of
    ``shingle_fingerprint``: explode tokens with position, form k-grams
    via lead() windows, hash codegen-side, bottom-``sketch`` via
    collect_set + array_sort. One narrow shuffle on doc id; identical
    values to the column form."""
    from pyspark.sql import Window

    ex = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "t"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("t")] + [F.lead("t", i).over(w) for i in range(1, k)]
    shingled = ex.select(
        "id",
        F.concat_ws(" ", *parts).alias("sh"),
        parts[-1].isNotNull().alias("full"),
    ).filter(F.col("full"))
    h = F.conv(F.substring(F.md5(F.col("sh")), 1, 15), 16, 10).cast("long")
    fps = shingled.select("id", h.alias("h")).groupBy("id").agg(
        F.slice(F.array_sort(F.collect_set("h")), 1, sketch)
        .alias("fingerprint")
    )
    # docs shorter than k tokens have no shingles -> empty fingerprint
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(fps, "id", "left")
        .select(
            "id",
            F.coalesce("fingerprint", F.array().cast("array<long>"))
            .alias("fingerprint"),
        )
    )


WINNOW_W = 4          # winnowing window: hashes per selection window
WINNOW_HASH_HEX = 10  # md5 prefix hex chars -> 40-bit k-gram hash
_POS_BITS = 21        # positions packed below the hash in the encoding
_POS_SPAN = 1 << _POS_BITS


def winnow_encoded(text: Column, k: int = SHINGLE_K,
                   w: int = WINNOW_W) -> Column:
    """Per-document winnowing selection, ENCODED — the local-minimum
    document fingerprinting algorithm (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every k-gram shingle, slide a window of ``w``
    consecutive hashes, select each window's minimum (rightmost on
    ties). Guarantees: any shared token run of >= w + k - 1 tokens
    between two documents shares >= 1 selected fingerprint, at an
    expected density of 2/(w+1) — the property a bottom-k sketch
    (``shingle_fingerprint``) cannot give, since bottom-k detection
    probability decays with document length.

    Returns the array of DISTINCT selected values encoded as
    ``hash40 * 2^21 + (2^21 - 1 - pos)`` so that a single
    ``array_min`` per window is the whole selection rule: minimizing
    the encoding minimizes the 40-bit hash first and, among equal
    hashes, maximizes the position (the rightmost-min tie-break).
    Decode with ``winnow_decode_hash`` / ``winnow_decode_pos``.
    Documents beyond 2^21 - 1 = 2,097,151 shingles would alias
    positions — far past any real document; the df form raises.

    Pure array expressions per row — no shuffle, no UDF. Cost is
    O(m * w) slice-mins per doc; w is a small constant (4).
    """
    toks = tokens(text)
    n = F.size(toks)
    nh = n - k + 1  # number of k-gram hashes
    enc = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.conv(
            F.substring(
                F.md5(F.concat_ws(" ", F.slice(toks, i + 1, k))),
                1, WINNOW_HASH_HEX,
            ),
            16, 10,
        ).cast("long") * _POS_SPAN + (F.lit(_POS_SPAN - 1) - i),
    )
    sel = F.transform(
        F.sequence(F.lit(0), nh - w),
        lambda j: F.array_min(F.slice(enc, j + 1, w)),
    )
    # CASE WHEN evaluates lazily per row, so the negative-bound
    # sequences (which count DOWN and feed slice a start of 0) never
    # run for short docs — same load-bearing guard as
    # ``shingle_fingerprint``.
    return F.when(
        (n >= k) & (nh >= w), F.array_sort(F.array_distinct(sel))
    ).otherwise(F.array().cast("array<long>"))


def winnow_decode_hash(enc: Column) -> Column:
    # shiftright, NOT `/`: float division rounds at 61 bits and
    # corrupts the low hash digit
    return F.shiftright(enc, _POS_BITS)


def winnow_decode_pos(enc: Column) -> Column:
    return (F.lit(_POS_SPAN - 1) - enc % _POS_SPAN).cast("int")


def winnow_shingle_hexes(docs, text_col: str = "text",
                         id_col: str = "doc_id", k: int = SHINGLE_K):
    """(id, pos, hex) per k-gram shingle: posexplode tokens, form
    k-grams via lead() windows, md5 codegen-side — the shared
    row-shaped substrate both fingerprint schemes consume (bottom-k
    reads hex chars 1-15, winnowing 1-10). One exchange on doc id;
    consumers that window/group by id reuse its partitioning (and,
    when two legs scan the same frame, its Exchange).

    Row-shaped on purpose: an array-native formulation (transform/
    slice/array_min per window) is NOT codegen'd — Spark evaluates
    higher-order functions interpreted, per element, and the measured
    cost at sf0.1 was 6.4 s vs 1.0 s for this explode + window plan.
    """
    from pyspark.sql import Window

    ex = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "t"),
    )
    wl = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("t")] + [F.lead("t", i).over(wl) for i in range(1, k)]
    return ex.select(
        "id", "pos",
        F.md5(F.concat_ws(" ", *parts)).alias("hex"),
        parts[-1].isNotNull().alias("full"),
    ).filter(F.col("full")).drop("full")


def winnow_select(shingled, w: int = WINNOW_W):
    """Winnowing selection over a (id, pos, hex) shingle frame:
    encode ``hash40 * 2^21 + (2^21-1-pos)``, take the running min of
    each w-row window (the packing makes one ``min`` the whole
    rightmost-min tie-break), keep only full windows, dedup per doc.

    The dedup is groupBy(id).collect_set — NOT ``.distinct()`` — so
    it reuses the window's doc-id partitioning instead of adding a
    second exchange on (id, e); the set is bounded by the 2^21
    per-doc shingle cap the guard enforces. Docs with fewer than w
    shingles have no full window and yield no rows.
    """
    from pyspark.sql import Window

    h40 = F.conv(
        F.substring(F.col("hex"), 1, WINNOW_HASH_HEX), 16, 10
    ).cast("long")
    # Loud precondition: position 2^21 would alias inside the packed
    # encoding — one comparison per shingle row.
    enc = F.when(
        F.col("pos") < _POS_SPAN,
        h40 * _POS_SPAN + (F.lit(_POS_SPAN - 1) - F.col("pos")),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("winnow_select: document "),
                F.col("id").cast("string"),
                F.lit(f" has >= 2^{_POS_BITS} shingles; packed "
                      "positions would alias — shard it upstream"),
            )
        ).cast("long")
    )
    wf = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    sel = (
        shingled.select("id", "pos", enc.alias("enc"))
        .select(
            "id",
            F.min("enc").over(wf).alias("e"),
            F.count(F.lit(1)).over(wf).alias("c"),
        )
        .filter(F.col("c") == w)
        .groupBy("id")
        .agg(F.collect_set("e").alias("es"))
    )
    return sel.select("id", F.explode("es").alias("e")).select(
        "id",
        winnow_decode_pos(F.col("e")).alias("pos"),
        winnow_decode_hash(F.col("e")).alias("fp_hash"),
    )


def quality_score(text: Column) -> Column:
    """Deterministic 0-1 quality heuristic: length band + lexical
    diversity + token-volume saturation (the standard cheap pre-filter
    for LLM corpora)."""
    n_tok = token_count(text).cast("double")
    n_uniq = unique_token_count(text).cast("double")
    n_chars = F.length(text).cast("double")
    diversity = F.when(n_tok > 0, n_uniq / n_tok).otherwise(0.0)
    volume = F.least(F.lit(1.0), n_tok / 100.0)
    length_ok = F.when((n_chars >= 50) & (n_chars <= 5000), 1.0).otherwise(0.0)
    return 0.3 * diversity + 0.4 * volume + 0.3 * length_ok


def word_ngrams(col: Column, n: int = 2) -> Column:
    """Space-joined word n-grams of the whitespace tokens (empty array
    for docs shorter than ``n`` tokens — guarded because
    ``sequence(0, cnt - n)`` with negative bounds counts DOWN).

    Tokens are bound as a lambda variable via the one-element-array
    wrapper (r14 optimization, the lm.bigrams lesson): interpreted
    HOF eval has no subexpression caching, so referencing the
    ``tokens(col)`` subtree inside the lambda body re-split the whole
    document per element access — O(tokens^2) per doc."""

    def grams_of(toks: Column) -> Column:
        cnt = F.size(toks)

        def gram(i: Column) -> Column:
            return F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
            )

        return F.when(
            cnt >= n, F.transform(F.sequence(F.lit(0), cnt - n), gram)
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(
        F.transform(F.array(tokens(col)), grams_of), 1)


def repeated_ngram_fraction(col: Column, n: int = 2) -> Column:
    """Gopher-style repetition signal: the fraction of word n-grams
    that are repeats of an earlier n-gram in the same document
    (1 - distinct/total). NULL for docs with no n-grams. Codegen'd
    narrow projection — the standard low-quality/boilerplate filter
    for a pre-training corpus."""
    grams = word_ngrams(col, n)
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    return F.when(
        total > 0,
        F.round((total - distinct).cast("double") / total, 6),
    )


def lexical_diversity_df(docs, text_col: str = "text",
                         id_col: str = "doc_id"):
    """Per-document lexical-diversity / dominance quality signals —
    the no-libm complement of ``quality_score``'s TTR term and the
    ``repeated_ngram_fraction`` repetition filter:

    * ``ttr`` — type-token ratio (distinct/total tokens);
    * ``simpson_diversity`` — the Gini-Simpson index
      ``1 - sum(c^2)/n^2``: the probability two independently drawn
      tokens differ. The standard transcendental-free diversity
      measure (low = repetitive/boilerplate — the signal Shannon
      entropy carries, as an exact rational);
    * ``top_token_ratio`` — dominance of the single most frequent
      token (Gopher's top-n-gram-coverage rule at n = 1).

    All three are one IEEE division (plus exact-integer products)
    over exact counts — correctly rounded, bit-identical across
    engines, so the full output value-hashes (the no-libm gate
    discipline; true Shannon entropy lives in
    :func:`token_entropy_df`, bounds-only). Zero-token docs are
    KEPT with ``n_tokens = 0`` and ratios 0.0 (the quality_score
    convention — a vanished row would silently pass every filter).

    Scale shape: explode -> two partial-agg reductions ((id, token)
    counts, then per-id moments) -> one broadcast-free left join
    back onto ids only for the zero-token guard. Both aggregates
    map-side combine; nothing is corpus-width after the first
    reduction. Rides q25's r12 re-gate as added columns per the
    CHANGELOG landing plan (pre-staged round 11).
    """
    ex = docs.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("t"),
    )
    per_tok = ex.groupBy("id", "t").agg(F.count("*").alias("c"))
    mom = per_tok.groupBy("id").agg(
        F.sum("c").cast("long").alias("n"),
        F.count("*").cast("long").alias("types"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("c2"),
        F.max("c").cast("long").alias("maxc"),
    )
    nd = F.col("n").cast("double")
    out = docs.select(F.col(id_col).alias("id")).join(mom, "id", "left")
    return out.select(
        F.col("id").alias(id_col),
        F.coalesce(F.col("n"), F.lit(0)).alias("n_tokens_lex"),
        F.coalesce(F.col("types"), F.lit(0)).alias("n_types"),
        F.coalesce(
            F.col("types").cast("double") / nd, F.lit(0.0)).alias("ttr"),
        F.coalesce(
            F.lit(1.0) - F.col("c2").cast("double") / (nd * nd),
            F.lit(0.0),
        ).alias("simpson_diversity"),
        F.coalesce(
            F.col("maxc").cast("double") / nd, F.lit(0.0)
        ).alias("top_token_ratio"),
    )


def token_entropy_df(docs, text_col: str = "text",
                     id_col: str = "doc_id"):
    """Per-document Shannon entropy (bits) of the token distribution:
    ``-sum((c/n) * log2(c/n))``. LIBM PATH — ``log2``'s last ulp is
    the platform's, so this column must NEVER enter a value-hashed
    gate (the lm.py/retrieval.py rule); bound it in tests or rank
    with it. For a gate-safe diversity signal use
    :func:`lexical_diversity_df`'s Gini-Simpson index. Same exploded
    two-reduction scale shape."""
    from pyspark.sql import Window

    ex = docs.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("t"),
    )
    per_tok = ex.groupBy("id", "t").agg(F.count("*").alias("c"))
    with_n = per_tok.withColumn(
        "_n", F.sum("c").over(Window.partitionBy("id")).cast("double"))
    p = F.col("c").cast("double") / F.col("_n")
    return (
        with_n.groupBy("id")
        .agg((-F.sum(p * F.log2(p))).alias("token_entropy"))
        .select(F.col("id").alias(id_col), "token_entropy")
    )


def shingle_hashes_df(docs, text_col: str = "text",
                      id_col: str = "doc_id", k: int = SHINGLE_K):
    """ALL distinct k-gram shingle hashes per doc as exploded
    (id, h) rows — the full-set sibling of the bottom-k
    ``shingle_fingerprints_df`` (same lead()-window shingling, same
    60-bit md5 hash), for operators that need exact membership
    (e.g. benchmark-contamination checks) rather than a sketch."""
    from pyspark.sql import Window

    ex = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "t"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("t")] + [F.lead("t", i).over(w) for i in range(1, k)]
    shingled = ex.select(
        "id",
        F.concat_ws(" ", *parts).alias("sh"),
        parts[-1].isNotNull().alias("full"),
    ).filter(F.col("full"))
    h = F.conv(F.substring(F.md5(F.col("sh")), 1, 15), 16, 10).cast("long")
    return shingled.select("id", h.alias("h")).distinct()


def chunk_documents(docs, chunk_tokens: int = 32, overlap: int = 8,
                    text_col: str = "text", id_col: str = "doc_id"):
    """Split documents into token-budget chunks with overlap — the
    standard pre-embedding step (the inverse of ``packing``'s
    combine). One row per (doc, chunk): (id, chunk_idx, n_tokens,
    chunk_text), chunk starts at multiples of ``chunk_tokens -
    overlap`` while inside the document, slices clipped at the end.

    Shuffle-free: tokens, the start sequence, and the slices are all
    narrow per-row expressions (explode fans out rows in place), so a
    100 TB corpus chunks in one codegen'd projection pass. Empty docs
    yield no chunks.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens: a larger "
                         "overlap never advances, a negative one "
                         "silently drops the gap tokens from every "
                         "chunk")
    step = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    base = docs.select(
        F.col(id_col).alias("id"), toks.alias("toks"), n.alias("n")
    ).filter(F.col("n") > 0)
    # last start must bring NEW tokens: stop once start + overlap >= n,
    # else a doc with n mod step in 1..overlap gets a tail chunk that
    # is a strict subset of the previous one (duplicate text straight
    # into the embedding step)
    return base.select(
        "id",
        "n",
        "toks",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("n") - overlap - 1, F.lit(0)),
                F.lit(step),
            )
        ).alias("start"),
    ).select(
        "id",
        (F.col("start") / step).cast("int").alias("chunk_idx"),
        F.least(F.lit(chunk_tokens), F.col("n") - F.col("start"))
        .cast("int").alias("n_tokens"),
        F.array_join(
            F.slice(F.col("toks"), F.col("start") + 1, chunk_tokens), " "
        ).alias("chunk_text"),
    )
