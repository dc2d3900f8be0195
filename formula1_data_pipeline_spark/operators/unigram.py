"""Unigram-LM subword tokenizer (Kudo 2018, the SentencePiece
``unigram`` model) — the second major subword algorithm next to BPE
(``operators/bpe.py``), completing the tokenizer-training surface.

Where BPE GROWS a vocabulary by merging frequent pairs, unigram
SHRINKS one: seed with the frequent substrings of the corpus, fit
piece probabilities with EM over each word's segmentation lattice,
and repeatedly prune the pieces whose removal costs the least
likelihood until the target vocabulary size is reached. Tokenization
is Viterbi: the segmentation maximizing the sum of piece log-probs.

Spark shape — the BPE discipline throughout:

* The corpus is touched ONCE: ``bpe.word_freqs`` gives the (word,
  freq) table and every training/tokenize pass runs over DISTINCT
  words weighted by freq (cost scales with vocabulary, not corpus).
* Candidate piece matches are RELATIONAL: explode each word's
  (start, end) substring spans (bounded: max_piece_len * len spans),
  broadcast-join the piece table once. No per-row vocab lookup.
* The per-word lattice DP (Viterbi max-product at tokenize time,
  forward/backward sum-product in the E-step) folds the word's
  matched spans with ONE ``F.aggregate`` over positions —
  interpreted HOF, but bounded at max_word_len iterations over a
  span array, parallel across words; this is the
  ``pack_examples_nostraddle`` trade (exact sequential semantics,
  bounded per-group work) rather than a Python UDF (banned, §2.9).

Determinism (the q39 libm lesson + q92 trained-float rule):

* ``viterbi_tokenize`` is ADDS-ONLY over caller-supplied log-probs —
  no exp/log inside either engine — so with log-probs passed as
  literal doubles (e.g. ``seed_logprobs``, computed ONCE driver-side
  from exact integer counts) the segmentation is bit-deterministic
  and cross-engine value-hash-gateable. Ties break toward the
  LONGEST piece (smaller start), then the DP is position-ordered so
  float adds happen in one pinned order.
* ``train_unigram`` (EM) necessarily uses exp/log (libm — engine-
  specific ulps): trained probabilities gate with BOUNDS (likelihood
  non-decreasing per EM round, target vocab size reached, round-trip
  concatenation identity) and approximate-parity tests against a
  Python reference — never value-hashed.

Landing route: ``viterbi_tokenize`` under a literal seed vocab rides
q98_bpe_tokenize's round-12 re-gate as kind='unigram' (q98 owns the
trained-tokenizer surface and is r10-gated, due r12); the trainer's
bounds ride the same gate per the q92 rule.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.session import local_frame

MAX_PIECE_LEN = 8     # longest candidate piece (chars)
MAX_WORD_LEN = 32     # longest word the lattice DP unrolls
UNK_LOGP = -20.0      # single-char fallback score (SentencePiece's
                      # unk surrogate), used only when a char is not
                      # in the piece table


def _require_short_words(words: DataFrame, w_col: str = "w") -> DataFrame:
    """Loud bounds guard: the DP arrays unroll MAX_WORD_LEN positions,
    so a longer word would be silently corrupted — and an EMPTY (or
    NULL) word has no lattice at all: ``sequence(0, length - 1)``
    DESCENDS to [0, -1] at length 0 and the DP crashes with an opaque
    element_at(acc, 0) error deep in the fold. Both fail here with a
    named error instead; filter/split pathological tokens upstream."""
    ok = (F.length(F.col(w_col)) <= MAX_WORD_LEN) & (
        F.length(F.col(w_col)) >= 1)
    guard = F.when(ok, F.col(w_col)).otherwise(
        F.raise_error(F.concat(
            F.lit("unigram: word '"),
            F.substring(F.coalesce(F.col(w_col), F.lit("<null>")),
                        1, 16),
            F.lit(f"...' must be 1..MAX_WORD_LEN={MAX_WORD_LEN} chars"
                  " and non-null; filter/split upstream"),
        ))
    )
    return words.withColumn(w_col, guard)


def candidate_spans(words: DataFrame, pieces: DataFrame,
                    w_col: str = "w",
                    max_piece_len: int = MAX_PIECE_LEN,
                    unk_logp: float = UNK_LOGP) -> DataFrame:
    """(w, i, j, logp) per vocabulary piece occurring in each distinct
    word: explode all (start, end) spans up to ``max_piece_len``,
    ONE broadcast join against the piece table (piece, logp). The
    single-char UNK fallback is injected for positions whose
    character is not itself a piece, so every word has a complete
    lattice."""
    spans = words.select(
        w_col,
        F.explode(F.sequence(F.lit(0), F.length(w_col) - 1)).alias("i"),
    ).select(
        w_col, "i",
        F.explode(
            F.sequence(
                F.col("i") + 1,
                F.least(F.col("i") + max_piece_len,
                        F.length(w_col)),
            )
        ).alias("j"),
    ).select(
        w_col, "i", "j",
        F.expr(f"substring({w_col}, i + 1, j - i)").alias("piece"),
    )
    matched = spans.join(F.broadcast(pieces), "piece").select(
        w_col, "i", "j", "logp"
    )
    # UNK fallback: a single-char span with no vocab entry scores
    # UNK_LOGP so the lattice always reaches the end of the word
    singles = spans.filter(F.col("j") == F.col("i") + 1).join(
        F.broadcast(pieces), "piece", "left_anti"
    ).select(
        w_col, "i", "j", F.lit(unk_logp).alias("logp")
    )
    return matched.unionByName(singles)


def _lattice(words: DataFrame, cands: DataFrame,
             w_col: str = "w") -> DataFrame:
    """(w, len, spans) — each word's sorted span array, the DP input.
    Sorted by (i, j) so every fold visits spans in one pinned order
    (float determinism)."""
    arr = cands.groupBy(w_col).agg(
        F.sort_array(F.collect_list(F.struct("i", "j", "logp")))
        .alias("spans")
    )
    return words.select(w_col, F.length(w_col).alias("len")).join(
        arr, w_col
    )


def viterbi_scores(words: DataFrame, pieces: DataFrame,
                   w_col: str = "w",
                   max_piece_len: int = MAX_PIECE_LEN) -> DataFrame:
    """(w, j, best) — the FULL Viterbi score lattice, one row per
    word position 1..len: best[j] = max over spans (i -> j) of
    best[i] + logp. The cross-engine-gateable surface: with
    integer-valued scores the whole table is exact adds, and pinning
    every position is strictly stronger than pinning the final score
    (the planned q98 r12 'unigram' kind)."""
    words = _require_short_words(words.select(w_col).distinct(), w_col)
    lat = _lattice(
        words, candidate_spans(words, pieces, w_col, max_piece_len),
        w_col,
    )
    dp = _viterbi_dp()
    return lat.select(
        w_col, dp.alias("dp"), F.col("len")
    ).select(
        w_col,
        F.posexplode(F.expr("slice(dp, 2, len)")).alias("j0", "cell"),
    ).select(
        w_col,
        (F.col("j0") + 1).alias("j"),
        F.col("cell.s").alias("best"),
    )


def _viterbi_dp():
    """The per-word Viterbi fold over the (len, spans) lattice
    columns: array<struct<s double, b int>> of length len+1 — score
    and chosen start per position (b = -1 unreached). Shared by
    ``viterbi_tokenize`` and ``viterbi_scores``."""
    neg_inf = F.lit(float("-inf"))
    init = F.concat(
        F.array(F.struct(F.lit(0.0).alias("s"),
                         F.lit(0).alias("b"))),
        F.array_repeat(
            F.struct(neg_inf.alias("s"), F.lit(-1).alias("b")),
            F.col("len"),
        ),
    )

    def step(acc, j):
        best = F.aggregate(
            F.filter(F.col("spans"), lambda sp: sp["j"] == j),
            F.struct(neg_inf.alias("s"), F.lit(-1).alias("b")),
            lambda cur, sp: F.when(
                F.element_at(acc, sp["i"] + 1)["s"] + sp["logp"]
                > cur["s"],
                F.struct(
                    (F.element_at(acc, sp["i"] + 1)["s"] + sp["logp"])
                    .alias("s"),
                    sp["i"].cast("int").alias("b"),
                ),
            ).otherwise(cur),
        )
        return F.concat(
            F.slice(acc, 1, j),
            F.array(best),
            F.slice(acc, j + 2, F.size(acc)),
        )

    return F.aggregate(F.sequence(F.lit(1), F.col("len")), init, step)


def viterbi_tokenize(words: DataFrame, pieces: DataFrame,
                     w_col: str = "w",
                     max_piece_len: int = MAX_PIECE_LEN,
                     unk_logp: float = UNK_LOGP) -> DataFrame:
    """(w, pieces array<string>, score) — the max-probability
    segmentation of each distinct word under (piece, logp). Adds-only
    float math in pinned order: cross-engine deterministic given
    literal log-probs. Ties prefer the longest piece (smallest start
    position at equal score).

    DP: best[j] = max over spans (i -> j) of best[i] + logp, folded
    position-by-position with one F.aggregate; the backpointer array
    is walked backwards by a second bounded fold to emit the actual
    piece list.
    """
    words = _require_short_words(words.select(w_col).distinct(), w_col)
    lat = _lattice(
        words,
        candidate_spans(words, pieces, w_col, max_piece_len, unk_logp),
        w_col,
    )
    # spans sorted by (i, j), the fold keeps strictly-greater only,
    # so the FIRST maximal element (smallest i = longest piece) wins
    # ties — see _viterbi_dp
    dp = _viterbi_dp()
    walked = lat.select(
        w_col, "len", F.col("spans").alias("spans"), dp.alias("dp")
    )
    # backtrace: walk b-pointers from len to 0, collecting (i, j)
    # spans (at most len steps; steps after reaching 0 are no-ops)
    back = F.aggregate(
        F.sequence(F.lit(1), F.col("len")),
        F.struct(
            F.col("len").cast("int").alias("pos"),
            F.array().cast("array<struct<i:int,j:int>>").alias("cuts"),
        ),
        lambda acc, _: F.when(
            acc["pos"] > 0,
            F.struct(
                F.element_at(F.col("dp"), acc["pos"] + 1)["b"]
                .alias("pos"),
                F.concat(
                    F.array(F.struct(
                        F.element_at(F.col("dp"), acc["pos"] + 1)["b"]
                        .alias("i"),
                        acc["pos"].alias("j"),
                    )),
                    acc["cuts"],
                ).alias("cuts"),
            ),
        ).otherwise(acc),
    )
    return walked.select(
        w_col,
        back.alias("bk"),
        F.element_at(F.col("dp"), F.col("len") + 1)["s"].alias("score"),
    ).select(
        w_col,
        F.expr(
            f"transform(bk.cuts, c -> substring({w_col}, c.i + 1, "
            "c.j - c.i))"
        ).alias("pieces"),
        "score",
    )


# Uniform eval weighting: every vocab piece costs -1, an UNK char
# costs -1024. Any maximum-score segmentation then has the SAME
# (n_pieces, n_unk), because -score = n_pieces + 1023 * n_unk has a
# unique decomposition while n_pieces <= MAX_WORD_LEN < 1023 — so the
# per-word stats are deterministic even where Viterbi ties exist,
# and the whole eval surface value-hash-gates with no trained floats
# anywhere (the q92 rule satisfied by construction).
_EVAL_PIECE_COST = -1.0
_EVAL_UNK_COST = -1024.0


def segmentation_stats(words: DataFrame, pieces: DataFrame,
                       w_col: str = "w",
                       max_piece_len: int = MAX_PIECE_LEN) -> DataFrame:
    """(w, n_chars, n_pieces, n_unk) per distinct word under the
    MINIMUM-TOKEN segmentation of the vocabulary — the
    probability-free vocabulary-quality surface (how compactly CAN
    this piece inventory spell the corpus), comparable across
    tokenizers (BPE vs unigram vocabs) because it needs no trained
    probabilities. Uniform weighting makes Viterbi compute exactly
    the min-piece segmentation; n_unk decodes from the score's
    unique (pieces, unks) decomposition rather than a membership
    join, so the whole frame is one projection past the DP."""
    uniform = pieces.select(
        "piece", F.lit(_EVAL_PIECE_COST).alias("logp"))
    seg = viterbi_tokenize(words, uniform, w_col, max_piece_len,
                           unk_logp=_EVAL_UNK_COST)
    n_pieces = F.size("pieces")
    # -score = n_pieces + 1023*n_unk (exact integer-valued doubles)
    n_unk = ((-F.col("score") - n_pieces) / 1023).cast("long")
    return seg.select(
        w_col,
        F.length(w_col).cast("long").alias("n_chars"),
        n_pieces.cast("long").alias("n_pieces"),
        n_unk.alias("n_unk"),
    )


def tokenizer_eval(words: DataFrame, pieces: DataFrame,
                   w_col: str = "w", freq_col: str = "freq",
                   max_piece_len: int = MAX_PIECE_LEN) -> DataFrame:
    """One-row corpus-level tokenizer scorecard under the min-token
    segmentation: fertility (tokens/word), chars_per_token
    (compression), unk_rate, coverage (fraction of word occurrences
    spelled with zero UNKs) — all frequency-weighted over the
    distinct-word table (corpus never rescanned). Counts are exact
    integers; the four ratios are round(int/int, 6) doubles (the
    q65 dup_fraction discipline)."""
    st = segmentation_stats(words, pieces, w_col, max_piece_len)
    j = words.select(w_col, freq_col).join(st, w_col)
    agg = j.agg(
        F.sum(freq_col).cast("long").alias("n_words"),
        F.sum(F.col(freq_col) * F.col("n_pieces")).cast("long")
        .alias("n_tokens"),
        F.sum(F.col(freq_col) * F.col("n_chars")).cast("long")
        .alias("n_chars"),
        F.sum(F.col(freq_col) * F.col("n_unk")).cast("long")
        .alias("n_unk"),
        F.sum(F.when(F.col("n_unk") == 0, F.col(freq_col))
              .otherwise(F.lit(0))).cast("long").alias("n_covered"),
    )
    return agg.select(
        "n_words", "n_tokens", "n_chars", "n_unk", "n_covered",
        F.round(F.col("n_tokens").cast("double") / F.col("n_words"), 6)
        .alias("fertility"),
        F.round(F.col("n_chars").cast("double") / F.col("n_tokens"), 6)
        .alias("chars_per_token"),
        F.round(F.col("n_unk").cast("double") / F.col("n_tokens"), 6)
        .alias("unk_rate"),
        F.round(F.col("n_covered").cast("double") / F.col("n_words"), 6)
        .alias("coverage"),
    )


def seed_pieces(words: DataFrame, max_vocab: int,
                w_col: str = "w", freq_col: str = "freq",
                max_piece_len: int = MAX_PIECE_LEN) -> DataFrame:
    """(piece, count) seed vocabulary: every substring of every word
    up to ``max_piece_len`` chars, weighted by word frequency, top
    ``max_vocab`` by (count desc, piece asc) — EVERY single
    character present is always kept (the lattice must be able to
    cover any word), counted toward the cap first. Exact integer
    counts; deterministic."""
    words = _require_short_words(words, w_col)
    subs = words.select(
        freq_col,
        F.explode(F.expr(
            f"flatten(transform(sequence(0, length({w_col}) - 1), "
            f"i -> transform(sequence(i + 1, least(i + {max_piece_len},"
            f" length({w_col}))), j -> substring({w_col}, i + 1, "
            "j - i))))"
        )).alias("piece"),
    )
    counts = subs.groupBy("piece").agg(
        F.sum(freq_col).cast("long").alias("count")
    ).persist()
    # the result is <= max_vocab rows by definition — materialize it
    # driver-side under one persisted aggregation pass instead of
    # re-running the substring explosion per consuming branch (the
    # chars count, the chars branch, and the top-multi branch were
    # three scans)
    try:
        chars_rows = counts.filter(F.length("piece") == 1).collect()
        n_chars = len(chars_rows)
        if n_chars >= max_vocab:
            raise ValueError(
                f"seed_pieces: {n_chars} distinct characters exceed "
                f"max_vocab={max_vocab}")
        multi_rows = (
            counts.filter(F.length("piece") > 1)
            .orderBy(F.col("count").desc(), F.col("piece"))
            .limit(max_vocab - n_chars)
            .collect()
        )
    finally:
        counts.unpersist()
    return local_frame(
        words.sparkSession,
        [(r["piece"], r["count"]) for r in chars_rows + multi_rows],
        "piece string, count long",
    )


def seed_logprobs(pieces_counts: DataFrame) -> DataFrame:
    """(piece, logp) from exact integer counts — the log() runs ONCE
    driver-side (bounded: vocab-sized collect), so both engines and
    the oracle receive the SAME literal doubles and the downstream
    Viterbi is adds-only deterministic (the q39 libm discipline)."""
    rows = pieces_counts.select("piece", "count").collect()
    total = sum(r["count"] for r in rows)
    spark = pieces_counts.sparkSession
    return local_frame(
        spark, [(r["piece"], math.log(r["count"] / total)) for r in rows],
        "piece string, logp double",
    )


def train_unigram(
    words: DataFrame,
    vocab_size: int,
    n_rounds: int = 4,
    shrink: float = 0.75,
    w_col: str = "w",
    freq_col: str = "freq",
    max_piece_len: int = MAX_PIECE_LEN,
    seed_size: int | None = None,
) -> tuple[DataFrame, list[float]]:
    """EM-trained unigram vocabulary: seed large, then per round
    (1) E-step — expected piece counts from each word's
    forward/backward lattice sums, weighted by word freq;
    (2) M-step — logp = log(count / total), computed driver-side
    (vocab-sized); (3) prune the lowest-expected-count multi-char
    pieces to ``shrink`` of the current size (never below
    ``vocab_size``; single chars are never pruned) — and on the LAST
    round cut exactly to ``vocab_size``, so the returned vocabulary
    always hits the target whenever the corpus has enough pieces
    (geometric shrinking alone lands ~shrink^n_rounds ABOVE the
    target at the default seed size). Returns the final
    (piece, logp) table and the per-round corpus log-likelihoods
    (driver floats — for the non-decreasing bounds gate; trained
    probabilities are float-path and NEVER value-hashed, the q92
    rule).

    Each E-step is one candidate join + one per-word bounded fold +
    one piece-keyed aggregation — corpus never rescanned (the
    (word, freq) table is the input), plan depth constant per round
    (fresh DataFrames each round; nothing chains through rounds but
    the driver-side vocab list — the BPE checkpoint lesson applied
    by construction).
    """
    if seed_size is None:
        seed_size = max(vocab_size * 4, vocab_size + 64)
    words = _require_short_words(
        words.select(w_col, freq_col), w_col
    ).persist()
    try:
        vocab = seed_logprobs(
            seed_pieces(words, seed_size, w_col, freq_col,
                        max_piece_len)
        )
        lls = []
        for rnd in range(n_rounds):
            exp_counts, ll = _estep(words, vocab, w_col, freq_col,
                                    max_piece_len)
            lls.append(ll)
            # M-step + prune, driver-side over the vocab-sized table
            rows = exp_counts.collect()
            rows.sort(key=lambda r: (-r["c"], r["piece"]))
            n_now = len(rows)
            if rnd == n_rounds - 1:
                keep_n = vocab_size  # final round: exact target cut
            else:
                keep_n = max(vocab_size, int(n_now * shrink))
            singles = [r for r in rows if len(r["piece"]) == 1]
            multi = [r for r in rows if len(r["piece"]) > 1]
            kept = singles + multi[:max(0, keep_n - len(singles))]
            total = sum(r["c"] for r in kept) or 1.0
            spark = words.sparkSession
            vocab = local_frame(
                spark,
                [(r["piece"], math.log(max(r["c"], 1e-12) / total))
                 for r in kept],
                "piece string, logp double",
            )
        return vocab, lls
    finally:
        words.unpersist()


def _estep(words, vocab, w_col, freq_col, max_piece_len):
    """Expected piece counts + corpus log-likelihood: forward and
    backward log-sums over each word's lattice (log-add-exp folded
    position-by-position), posterior weight exp(a[i] + logp + b[j] -
    a[len]) per matched span, aggregated per piece weighted by word
    freq."""
    cands = candidate_spans(
        words.select(w_col).distinct(), vocab, w_col, max_piece_len)
    lat = _lattice(
        words.select(w_col).distinct(), cands, w_col
    ).join(words, w_col)
    neg_inf = F.lit(float("-inf"))

    def lse(a, b):
        # log(e^a + e^b), safe with -inf identities
        m = F.greatest(a, b)
        return F.when(m == neg_inf, neg_inf).otherwise(
            m + F.log(F.exp(a - m) + F.exp(b - m))
        )

    def forward_arr():
        init = F.concat(
            F.array(F.lit(0.0)),
            F.array_repeat(neg_inf, F.col("len")),
        )

        def step(acc, j):
            s = F.aggregate(
                F.filter(F.col("spans"), lambda sp: sp["j"] == j),
                neg_inf,
                lambda cur, sp: lse(
                    cur, F.element_at(acc, sp["i"] + 1) + sp["logp"]),
            )
            return F.concat(
                F.slice(acc, 1, j), F.array(s),
                F.slice(acc, j + 2, F.size(acc)),
            )

        return F.aggregate(
            F.sequence(F.lit(1), F.col("len")), init, step)

    def backward_arr():
        # b[i] = logsum over spans (i -> j) of logp + b[j]; iterate
        # i = len-1 .. 0
        init = F.concat(
            F.array_repeat(neg_inf, F.col("len")),
            F.array(F.lit(0.0)),
        )

        def step(acc, k):
            i = F.col("len") - k
            s = F.aggregate(
                F.filter(F.col("spans"), lambda sp: sp["i"] == i),
                neg_inf,
                lambda cur, sp: lse(
                    cur, sp["logp"] + F.element_at(acc, sp["j"] + 1)),
            )
            return F.concat(
                F.slice(acc, 1, i), F.array(s),
                F.slice(acc, i + 2, F.size(acc)),
            )

        return F.aggregate(
            F.sequence(F.lit(1), F.col("len")), init, step)

    with_ab = lat.select(
        w_col, freq_col, "len", "spans",
        forward_arr().alias("fa"), backward_arr().alias("ba"),
    ).withColumn("z", F.element_at(F.col("fa"), F.col("len") + 1))
    with_ab = with_ab.persist()
    posts = with_ab.select(
        freq_col, "z",
        # NB: SQL `arr[k]` is ZERO-based (element_at is 1-based) —
        # fa[sp.i] / ba[sp.j] ARE the 1-based elements i+1 / j+1
        F.explode(F.expr(
            f"transform(spans, sp -> struct("
            f"substring({w_col}, sp.i + 1, sp.j - sp.i) AS piece, "
            "fa[sp.i] + sp.logp + ba[sp.j] AS num))"
        )).alias("p"),
    ).select(
        F.col("p.piece").alias("piece"),
        (F.exp(F.col("p.num") - F.col("z")) * F.col(freq_col))
        .alias("w"),
    )
    try:
        # both actions run under the persist so the lattice folds —
        # the round's dominant cost — evaluate once, and the
        # vocab-sized counts materialize before release so the
        # caller's consumption can't re-run them either
        ll_row = with_ab.agg(
            F.sum(F.col("z") * F.col(freq_col)).alias("ll")
        ).collect()[0]
        rows = posts.groupBy("piece").agg(
            F.sum("w").alias("c")).collect()
    finally:
        with_ab.unpersist()
    exp_counts = local_frame(posts.sparkSession,
                             [(r["piece"], r["c"]) for r in rows],
                             "piece string, c double")
    return exp_counts, float(ll_row["ll"])
