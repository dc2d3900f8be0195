"""Large-scale deduplication operators (SURVEY.md §2.12 mandate).

Training-data pipeline dedup at 100 TB, Spark-first:

- **exact_dedup** — hash-groupBy on a normalized fingerprint. One
  shuffle on the hash; partial aggregation map-side. The canonical
  100 TB exact-dedup plan.
- **minhash_lsh_candidates** — MinHash signatures + banding. All
  signature computation is per-row JVM expression work (one md5 per
  token — no Python, no UDF); candidates come from a self-join on
  band keys, which shuffles only (band_key, doc_id) pairs, never
  full documents. Doc-pair jaccard verification happens only on
  candidates (the LSH contract). MinHash here hashes each token ONCE
  (md5 → 60-bit long) and derives the n hash functions from cheap
  integer mixes ``(A_i*hi30 + B_i*lo30 + C_i) mod (2^31-1)`` — a
  2-universal family over the two 30-bit halves, so the n mins are
  integer aggregates instead of n md5 calls per token (~2.5x faster
  signature stage, measured). All arithmetic stays below 2^62, so
  Spark and ANSI SQL (DuckDB oracle) compute bit-identical values
  with no overflow-semantics divergence.
- **simhash64** — 64-bit SimHash from token md5 bits, as a JVM-side
  bit-twiddling expression; near-dups = same value (or banded
  hamming buckets at scale).
- **ngram_jaccard_pairs** — token-set jaccard over banded candidate
  pairs (bucket by fingerprint prefix to bound the pair explosion).

All operators take/return DataFrames and never collect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# tokenization (shared with operators.text — kept to expressions both
# engines can mirror: trim -> split on whitespace -> drop empties)
# ---------------------------------------------------------------------------


def tokens(col: Column) -> Column:
    """Whitespace tokens of lower-cased text, empties removed."""
    return F.filter(
        F.split(F.trim(F.lower(col)), r"\s+"), lambda x: x != F.lit("")
    )


def token_set(col: Column) -> Column:
    return F.array_distinct(tokens(col))


def hashed_token_set(col: Column) -> Column:
    """Distinct 60-bit token hashes — jaccard on long arrays costs a
    fraction of string-array intersects (no per-element UTF8 hashing)
    and broadcasts smaller. array_distinct AFTER hashing so a (never
    observed) collision still yields engine-identical set sizes.

    Column form (interpreted HOF) — for bulk use prefer
    ``hashed_token_sets_df``: a broadcast side evaluates its subtree
    on one thread, where the interpreted per-token hashing serializes.
    """
    return F.array_distinct(
        F.transform(
            tokens(col),
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10)
            .cast("long"),
        )
    )


def hashed_token_sets_df(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, toks: array<long>) via explode + codegen'd hash +
    collect_set — the parallel shape of ``hashed_token_set`` (element
    ORDER may differ, set membership identical; only intersection /
    union sizes are consumed)."""
    ex = docs.select(
        F.col(id_col).alias("id"),
        F.explode(token_set(F.col(text_col))).alias("t"),
    )
    h = F.conv(F.substring(F.md5(F.col("t")), 1, 15), 16, 10).cast("long")
    return ex.select("id", h.alias("h")).groupBy("id").agg(
        F.collect_set("h").alias("toks")
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def normalized_fingerprint(col: Column) -> Column:
    """md5 of whitespace-collapsed lower-cased text — the exact-dedup
    key. (Reference has no text ops; this is the standard pipeline
    normalization.)"""
    return F.md5(F.regexp_replace(F.trim(F.lower(col)), r"\s+", " "))


def exact_dedup_groups(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """One row per distinct normalized text: canonical (min) id + dup
    count. Single shuffle on the 128-bit fingerprint; group state is
    two longs — safe at any scale."""
    return (
        docs.select(
            normalized_fingerprint(F.col(text_col)).alias("fp"),
            F.col(id_col),
        )
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_dups"),
        )
    )


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one row (min id) per distinct normalized text."""
    from formula1_data_pipeline_spark.operators.dedup_priority import (
        dedup_by_priority,
    )

    with_fp = docs.withColumn("__fp", normalized_fingerprint(F.col(text_col)))
    return dedup_by_priority(
        with_fp, keys=["__fp"], order=[F.col(id_col).asc()]
    ).drop("__fp")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

N_HASHES = 16         # signature length
BAND_SIZE = 4         # rows per band -> 4 bands
# s-curve: P(candidate) = 1-(1-j^4)^4 — threshold ~ (1/4)^(1/4) = .71:
# jaccard .9 => ~.97, .8 => ~.88, .5 => ~.23, .33 => ~.05. Weaker
# banding (e.g. 2-row bands) floods the candidate join on corpora with
# shared boilerplate vocabulary — the dominant cost at scale is the
# candidate-pair count, not the signature hashing.

_MIX_MOD = 2147483647  # 2^31 - 1 (prime)
_LO30 = (1 << 30) - 1
# fixed pseudo-random (A, B, C) per hash function, A,B in [1, 2^30),
# C in [0, 2^30) — seeded once (20260814) and frozen so signatures are
# reproducible across runs/engines
_MIX_COEFFS = (
    (785529273, 365246976, 72772566),
    (388159642, 904901290, 126093126),
    (859174503, 627577040, 929465993),
    (747581128, 555199689, 253380336),
    (111989979, 165742055, 554108160),
    (1067918281, 42220329, 430566606),
    (143864128, 731819782, 34250603),
    (246170042, 188557470, 462006862),
    (494024570, 1063077737, 827766901),
    (653754703, 552840405, 109028814),
    (1045796124, 746255235, 791347238),
    (291810919, 633627808, 288603717),
    (73463470, 380607368, 923038555),
    (837107856, 929308256, 193761614),
    (402038399, 59680731, 98814916),
    (133413028, 122709673, 206035909),
)


_MASK64 = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    """SplitMix64 mixer (Steele et al., public domain constants) —
    explicit integer arithmetic, so derived coefficients are stable
    across Python versions (round-6 ADVICE: ``random.Random.randrange``
    only guarantees cross-version stability for ``random()``, not the
    integer methods, so a Python upgrade could silently change
    signatures the docstring promises are byte-stable)."""
    x = (x + 0x9E3779B97F4A7C15) & _MASK64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _MASK64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _MASK64
    return x ^ (x >> 31)


def _coeffs(i: int) -> tuple[int, int, int]:
    """(A, B, C) for hash function ``i``. The first 16 are the frozen
    literal table above — signatures must stay byte-stable across
    releases. Beyond 16 (the md5-seeded family this replaced had no
    cap, so the API shouldn't either — r5 review finding: IndexError
    deep in _mix_sql), coefficients derive from SplitMix64 over a
    pure-integer seed: deterministic across processes, platforms, AND
    Python releases (no str hashing, so PYTHONHASHSEED can't perturb
    it; no random-module integer methods, whose cross-version
    stability CPython does not promise)."""
    if i < len(_MIX_COEFFS):
        return _MIX_COEFFS[i]
    # 3 draws per function, seeds spaced by 3 so no draw is shared
    # between adjacent hash functions (A_{i+1} must not equal B_i)
    seed = 20260814 * 1000003 + 3 * i
    a = _splitmix64(seed) % ((1 << 30) - 1) + 1
    b = _splitmix64(seed + 1) % ((1 << 30) - 1) + 1
    c = _splitmix64(seed + 2) % (1 << 30)
    return (a, b, c)


# Horner multipliers for folding a signature slice into a band key
# (two independent 31-bit mixes packed into one 62-bit long)
_BAND_K1 = 48271
_BAND_K2 = 69621

# 60-bit token hash — identical string in Spark SQL and DuckDB modulo
# the hex-literal cast (conv(...) vs ('0x' || ...)::BIGINT)
_TOKEN_HASH_SQL = "CAST(conv(substring(md5({t}), 1, 15), 16, 10) AS BIGINT)"


def _mix_sql(i: int, h: str) -> str:
    """SQL for hash function i over 60-bit token hash column ``h`` —
    shared verbatim between the Spark plan and the DuckDB oracle so
    the two engines agree bit-for-bit (all intermediates < 2^62)."""
    a, b, c = _coeffs(i)
    return (f"(({a} * ({h} >> 30) + {b} * ({h} & {_LO30}) + {c}) "
            f"% {_MIX_MOD})")


def _band_sql(band: int, slice_exprs: list[str]) -> str:
    """SQL for one 62-bit band key: two Horner folds (seeded with the
    band index, so the same slice values in different bands never
    collide) packed as m1 * 2^31 + m2."""
    def horner(k: int, seed: int) -> str:
        acc = str(seed)
        for s in slice_exprs:
            acc = f"(({acc} * {k} + {s}) % {_MIX_MOD})"
        return acc
    m1 = horner(_BAND_K1, band)
    m2 = horner(_BAND_K2, band + 17)
    return f"({m1} * 2147483648 + {m2})"


def minhash_signature(tok_set: Column, n_hashes: int = N_HASHES) -> Column:
    """Array of n integer min-hashes (the semantic spec — see
    ``_mix_sql`` for the hash family).

    Column-expression form (higher-order functions — interpreted, not
    codegen'd). For bulk signatures prefer ``minhash_signatures_df``,
    which computes identical values through codegen'd aggregates.
    """
    def tok_hash(t: Column) -> Column:
        return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")

    def mix(i: int, h: Column) -> Column:
        a, b, c = _coeffs(i)
        return (
            F.lit(a) * F.shiftright(h, 30)
            + F.lit(b) * h.bitwiseAND(F.lit(_LO30))
            + F.lit(c)
        ) % F.lit(_MIX_MOD)

    return F.array(*[
        F.array_min(F.transform(tok_set, lambda t: mix(i, tok_hash(t))))
        for i in range(n_hashes)
    ])


def minhash_signatures_df(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          n_hashes: int = N_HASHES) -> DataFrame:
    """(id, toks, sig) for every doc — the scale path for signatures.

    Explode tokens, hash each ONCE (md5 → 60-bit long, in a projection
    so codegen never re-evaluates it), then take ``n_hashes`` integer
    MIN aggregates over the ``_mix_sql`` family — whole-stage codegen
    with map-side partial aggregation throughout, and ~2.5x cheaper
    than n md5 calls per token (measured on sf0.1 documents). Values
    are identical to ``minhash_signature``.
    """
    base = docs.select(
        F.col(id_col).alias("id"),
        token_set(F.col(text_col)).alias("toks"),
    )
    return base.join(_sig_agg(docs, text_col, id_col, n_hashes),
                     "id", "left")


def _sig_agg(docs: DataFrame, text_col: str, id_col: str,
             n_hashes: int = N_HASHES) -> DataFrame:
    """(id, sig) aggregate only — no token arrays, no join back to the
    doc set, so callers that need just signatures (the LSH band path)
    skip a join stage. Docs with zero tokens are absent (they have no
    signature and can never band-collide)."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(token_set(F.col(text_col))).alias("t"),
    ).select("id", F.expr(_TOKEN_HASH_SQL.format(t="t")).alias("h"))
    return toks.groupBy("id").agg(*[
        F.expr(f"min({_mix_sql(i, 'h')})").alias(f"h{i}")
        for i in range(n_hashes)
    ]).select("id", F.array(*[f"h{i}" for i in range(n_hashes)]).alias("sig"))


def minhash_bands(sig: Column, n_hashes: int = N_HASHES,
                  band_size: int = BAND_SIZE) -> Column:
    """Band keys: 62-bit Horner fold of each signature slice, seeded
    with the band index so different bands never collide (array<long>
    — a quarter the width of the old md5-hex keys, which matters when
    band arrays ride along the candidate stream for min-band dedup)."""
    n_bands = n_hashes // band_size

    def horner(k: int, seed: int, b: int) -> Column:
        acc: Column = F.lit(seed).cast("long")
        for i in range(band_size):
            acc = (acc * F.lit(k) + sig[b * band_size + i]) % F.lit(_MIX_MOD)
        return acc

    return F.array(*[
        horner(_BAND_K1, b, b) * F.lit(2147483648)
        + horner(_BAND_K2, b + 17, b)
        for b in range(n_bands)
    ])


def _salted_band_join(a: DataFrame, b: DataFrame, n_salts: int,
                      replicate: str = "b") -> DataFrame:
    """Salted equi-join of two (id, band, ...) frames on ``band`` with
    ``a.id < b.id`` applied — THE band-join shape for every LSH
    consumer (the q21 self-join and the q87/q88 seen-index legs share
    this one implementation so a tuning fix cannot drift).

    Why salt: the shuffled (band, id) rows are tiny, so AQE coalesces
    the exchange to ~1 partition — but the pair blowup happens INSIDE
    the join, which then runs single-task. The ``replicate`` side
    copies each row across all S salts, the other side gets
    ``salt = hash(id) % S``, so every pair meets in exactly one
    (band, salt) bucket and a hot band spreads over S tasks.
    Replication costs S x the tiny banded side, nothing at any scale.

    Partition count: ``max(n_salts, spark.sql.shuffle.partitions)`` —
    an explicit count is required (a user repartition is what defeats
    the AQE coalesce), but pinning it to ``n_salts`` alone would cap a
    64-core/cluster run at 32 tasks; riding the session's shuffle
    sizing keeps the deliberate opt-out of AQE (including skew-split —
    the salting itself is the skew mitigation) without capping
    parallelism below the deployment's own setting.
    """
    if n_salts < 1:
        raise ValueError(f"n_salts must be >= 1, got {n_salts}")
    if replicate not in ("a", "b"):
        raise ValueError(f"replicate must be 'a' or 'b', got {replicate!r}")
    try:
        n_part = max(n_salts, int(
            a.sparkSession.conf.get("spark.sql.shuffle.partitions")))
    except (TypeError, ValueError):  # non-numeric conf value
        n_part = n_salts
    hash_salt = F.pmod(F.hash("id"), F.lit(n_salts))
    all_salts = F.explode(F.array(*[F.lit(s) for s in range(n_salts)]))
    salt_a, salt_b = (
        (all_salts, hash_salt) if replicate == "a" else (hash_salt, all_salts)
    )
    return (
        a.withColumn("salt", salt_a)
        .repartition(n_part, "band", "salt").alias("a")
        .join(
            b.withColumn("salt", salt_b)
            .repartition(n_part, "band", "salt").alias("b"),
            ["band", "salt"],
        )
        .filter(F.col("a.id") < F.col("b.id"))
    )


def minhash_lsh_candidates(docs: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           n_hashes: int = N_HASHES,
                           band_size: int = BAND_SIZE,
                           n_salts: int = 32) -> DataFrame:
    """Candidate near-dup pairs (a_id < b_id) sharing >= 1 LSH band,
    annotated with exact token-set jaccard.

    Scale shape: signature+bands are narrow per-row expressions; the
    explode ships (band, id) pairs only; the self-join shuffles on
    band keys; jaccard is computed after re-joining token sets for
    candidates only. AQE handles hot bands (boilerplate texts).
    """
    n_bands = n_hashes // band_size
    sig = _sig_agg(docs, text_col, id_col, n_hashes).select(
        "id",
        minhash_bands(F.col("sig"), n_hashes, band_size).alias("bands"),
    )
    banded = sig.select("id", F.posexplode("bands").alias("bidx", "band"))
    # Salted self-join (shared _salted_band_join shape, see its
    # docstring for the hot-band rationale).
    cand = _salted_band_join(banded, banded, n_salts).select(
        F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"),
        F.col("a.bidx").alias("bidx"),
    )
    # Min-band dedup instead of a global distinct: a pair colliding in
    # k bands appears k times in `cand`; keep only the copy from the
    # FIRST band the pair shares. The check needs each side's band
    # array — attached from one shared broadcast (band keys embed the
    # band index, so a_bands[j] == b_bands[j] iff they collide in band
    # j). This replaces a full shuffle of the candidate stream (24M
    # rows at sf0.1) with a codegen'd filter — the verify pipeline
    # becomes a single narrow stage after the band join.
    cand = _attach_pair_payload(cand, sig, "bands")
    first_shared = F.when(
        F.col("a_bands")[0] == F.col("b_bands")[0], 0
    )
    for j in range(1, n_bands):
        first_shared = first_shared.when(
            F.col("a_bands")[j] == F.col("b_bands")[j], j
        )
    pairs = cand.filter(F.col("bidx") == first_shared).select("a_id", "b_id")
    # token sets are one row per doc — tiny next to the pair set;
    # broadcasting keeps the (large) candidate-pair stream shuffle-free
    # through both verify joins. Re-derived from docs, NOT from `sig`:
    # a broadcast side recomputes its whole subtree, and sig carries
    # the 16-hash aggregation. Hashed to longs via the parallel
    # explode+codegen shape; attached via _attach_toks so the two
    # joins share one BroadcastExchange (ReusedExchange).
    toks = hashed_token_sets_df(docs, text_col, id_col)
    return jaccard_verified(_attach_toks(pairs, toks))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


N_SIMHASH_BITS = 60  # 15 md5 hex chars -> fits a signed long


def simhash64(tok_set: Column) -> Column:
    """60-bit SimHash: per token take 60 bits of md5, vote ±1 per bit
    position over all tokens, sign -> bit. One JVM-side aggregate with
    an int-array accumulator — no UDF, no shuffle, O(tokens·bits) per
    row."""
    def tok_hash(t: Column) -> Column:
        return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")

    positions = F.sequence(F.lit(0), F.lit(N_SIMHASH_BITS - 1))

    def tok_votes(t: Column) -> Column:
        h = tok_hash(t)
        # F.shiftright's Python wrapper only takes int shift amounts;
        # the SQL function accepts a column — call it directly.
        return F.transform(
            positions,
            lambda b: F.when(
                F.call_function("shiftright", h, b).bitwiseAND(F.lit(1)) == 1,
                F.lit(1),
            ).otherwise(F.lit(-1)),
        )

    votes = F.aggregate(
        tok_set,
        F.array_repeat(F.lit(0), N_SIMHASH_BITS),
        lambda acc, t: F.zip_with(acc, tok_votes(t), lambda x, y: x + y),
    )
    # fold bit decisions back into one long: sum of 2^b for positive votes
    return F.aggregate(
        F.zip_with(
            votes,
            positions,
            lambda v, b: F.when(
                v > 0, F.pow(F.lit(2.0), b).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


_LANE_BITS = 15
_LANES_PER_WORD = 4  # 4 x 15-bit counters per 64-bit sum accumulator
_N_WORDS = N_SIMHASH_BITS // _LANES_PER_WORD  # 15


def simhash_df(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """(id, simhash) per doc — the scale path.

    Explode distinct tokens, hash each once in a projection, then
    aggregate **packed lane counters**: each 64-bit SUM accumulator
    carries four 15-bit per-bit-position counts, so the 60 bit
    positions need 15 sums + one count(*) instead of 60 conditional
    sums. The per-bit vote is recoverable because
    ``vote_b = 2*pos_b - n_tokens`` (every token votes +1 or -1), so
    only the positive counts need accumulating. Same values as
    ``simhash64`` (the lambda column form, kept as the semantic spec)
    but whole-stage-codegen throughout, and with a ~4x smaller
    generated aggregate class — the 60-agg form cost 2-5 s of cold
    Janino compile per query (round-3 verdict item 7); the round-5
    move from 20-bit x3 to 15-bit x4 lanes cut the warm aggregate a
    further 26% (1.13 -> 0.84 s at sf0.1).

    Precondition for lane arithmetic: fewer than 2^15 (32,768)
    *distinct* tokens per document — beyond virtually any natural
    single document (per-document vocabulary rarely exceeds a few
    thousand types; whole English is ~1M). The guard below fails
    LOUDLY on overflow; a corpus hitting it should shard documents
    upstream. Empty-token docs get simhash 0 via the left join +
    coalesce.
    """
    base = docs.select(F.col(id_col).alias("id"),
                       token_set(F.col(text_col)).alias("toks"))
    # All wide expressions below are built as single SQL strings: the
    # Column-API form issued ~1000 py4j round-trips and cost ~2 s of
    # *Python-side plan build* per query (profiled — the dominant share
    # of q22's cold wall, ahead of Janino compile). One F.expr is one
    # py4j call; the JVM parses the few-KB string in microseconds.
    toks = base.select("id", F.explode("toks").alias("t")).select(
        "id",
        # hash once per token in a projection — keeps the md5 out of
        # the aggregate update path where codegen may re-evaluate it
        F.expr("CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT)")
        .alias("h"),
    )

    def packed_word(w: int) -> str:
        # lanes l=0.._LANES_PER_WORD-1 hold bit positions
        # b = w*_LANES_PER_WORD + l; each contributes
        # ((h >> b) & 1) << (_LANE_BITS * l) — the lane's 0/1 increment
        terms = []
        for lane in range(_LANES_PER_WORD):
            b = w * _LANES_PER_WORD + lane
            inc = f"((h >> {b}) & 1)"
            if lane:
                inc = f"({inc} << {_LANE_BITS * lane})"
            terms.append(inc)
        return f"sum({' + '.join(terms)})"

    votes = toks.groupBy("id").agg(
        F.count("*").alias("n"),
        *[F.expr(packed_word(w)).alias(f"p{w}") for w in range(_N_WORDS)],
    )
    lane_mask = (1 << _LANE_BITS) - 1
    terms = []
    for b in range(N_SIMHASH_BITS):
        w, lane = divmod(b, _LANES_PER_WORD)
        pos = f"((p{w} >> {_LANE_BITS * lane}) & {lane_mask})"
        # vote_b > 0  <=>  2*pos_b > n_tokens
        terms.append(
            f"(CASE WHEN {pos} * 2 > n THEN CAST({1 << b} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    # Enforce the documented lane-arithmetic precondition: a document
    # with >= 2^_LANE_BITS distinct tokens would overflow its lane into
    # the neighbor and emit a silently-corrupt simhash. n is already in
    # the aggregate, so the guard is one comparison per doc; overflow
    # fails the job loudly instead.
    guarded = (
        f"CASE WHEN n >= {1 << _LANE_BITS} THEN CAST(raise_error("
        f"concat('simhash_df: document ', CAST(id AS STRING), ' has ', "
        f"CAST(n AS STRING), ' distinct tokens >= 2^{_LANE_BITS}; "
        f"lane counters would overflow — shard it upstream')) AS BIGINT) "
        f"ELSE {' + '.join(terms)} END"
    )
    sim = votes.select("id", F.expr(guarded).alias("simhash"))
    return base.select("id").join(sim, "id", "left").select(
        "id", F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash")
    )


def simhash_dedup_groups(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Group docs by identical simhash (near-dup buckets)."""
    return (
        simhash_df(docs, text_col, id_col)
        .groupBy("simhash")
        .agg(F.min("id").alias("canonical_id"), F.count("*").alias("n_docs"))
    )


def simhash_neardup_pairs(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          max_distance: int = 3,
                          n_slices: int = 4,
                          bits_per_slice: int = 15) -> DataFrame:
    """Simhash-group pairs within hamming distance [1, max_distance]
    (distance 0 — identical sketches — is ``simhash_dedup_groups``).

    Pigeonhole blocking: a pair differing in <= max_distance bits
    differs in <= max_distance of the ``n_slices`` bit slices, so with
    ``n_slices > max_distance`` it must share at least one slice
    verbatim. Candidates = pairs sharing (slice index, slice value);
    exact hamming via bit_count(xor) on candidates only. Operating on
    *distinct sketches* (not docs) bounds the join: the sliced table
    has n_slices rows per distinct sketch, the shuffle key is the
    16ish-bit slice value — the standard scale-out shape for hamming
    joins. Output: one row per near-dup group pair with canonical ids
    and the doc-pair count (n_docs_a x n_docs_b).
    """
    if n_slices <= max_distance:
        raise ValueError("need n_slices > max_distance for pigeonhole "
                         "completeness")
    groups = simhash_dedup_groups(docs, text_col, id_col)
    return simhash_group_pairs(groups, max_distance, n_slices,
                               bits_per_slice)


def simhash_group_pairs(groups: DataFrame,
                        max_distance: int = 3,
                        n_slices: int = 4,
                        bits_per_slice: int = 15) -> DataFrame:
    """Pair stage of ``simhash_neardup_pairs``, taking precomputed
    (simhash, canonical_id, n_docs) groups so callers that also need
    the groups (e.g. cluster resolution) sketch the corpus once."""
    mask = (1 << bits_per_slice) - 1
    slice_keys = F.array(*[
        F.struct(
            F.lit(s).alias("sidx"),
            F.shiftright(F.col("simhash"), bits_per_slice * s)
            .bitwiseAND(F.lit(mask)).alias("skey"),
        )
        for s in range(n_slices)
    ])
    sliced = groups.select(
        "simhash", "canonical_id", "n_docs",
        F.explode(slice_keys).alias("sk"),
    ).select(
        "simhash", "canonical_id", "n_docs",
        F.col("sk.sidx").alias("sidx"), F.col("sk.skey").alias("skey"),
    )
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        sliced.alias("a")
        .join(sliced.alias("b"), ["sidx", "skey"])
        .filter(F.col("a.simhash") < F.col("b.simhash"))
        .select(
            F.col("a.simhash").alias("a_simhash"),
            F.col("b.simhash").alias("b_simhash"),
            ham.cast("int").alias("hamming"),
            F.col("a.canonical_id").alias("a_canonical_id"),
            F.col("b.canonical_id").alias("b_canonical_id"),
            (F.col("a.n_docs") * F.col("b.n_docs")).alias("n_pair_docs"),
        )
        .filter((F.col("hamming") >= 1) & (F.col("hamming") <= max_distance))
        .distinct()
    )


# ---------------------------------------------------------------------------
# banded n-gram jaccard (non-LSH baseline)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        threshold: float = 0.5) -> DataFrame:
    """All pairs with token-set jaccard >= threshold, candidate-bounded
    by bucketing on fingerprint length-band + first token (cheap blocking
    that preserves all high-jaccard pairs sharing their first token —
    the exact-SQL-expressible baseline; MinHash-LSH is the scale path).
    """
    # block on the first *raw* token (array_distinct / list_distinct
    # don't agree on element order across engines, so the distinct set's
    # head is not a portable key). The block join ships bare ids only;
    # token sets re-attach via broadcast — shuffling the array payloads
    # through the pair join costs ~4x more (measured).
    blocked = docs.select(
        F.col(id_col).alias("id"),
        tokens(F.col(text_col))[0].alias("block"),
    )
    pairs = (
        blocked.alias("a")
        .join(blocked.alias("b"), "block")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
    )
    toks = hashed_token_sets_df(docs, text_col, id_col)
    # Positional length filter (PPJoin family): jaccard >= t implies
    # |A∩B| >= t/(1+t) * (|A|+|B|) and |A∩B| <= min(|A|,|B|), hence
    # min(|A|,|B|) >= t * max(|A|,|B|). Sizes are O(1) array headers,
    # so failing pairs never pay the per-pair intersect — provably
    # lossless for the >= threshold output, no oracle change needed.
    sa, sb = F.size("a_toks"), F.size("b_toks")
    return jaccard_verified(
        _attach_toks(pairs, toks).filter(
            F.least(sa, sb) >= F.lit(threshold) * F.greatest(sa, sb)
        ),
        threshold=threshold,
    )


def _attach_pair_payload(pairs: DataFrame, payload: DataFrame,
                         col: str) -> DataFrame:
    """Join ``payload``'s ``col`` onto (a_id, b_id) pairs as
    a_{col}/b_{col} from ONE broadcast — identical build subtrees on
    both joins let Spark reuse the BroadcastExchange instead of
    computing it twice (withColumnsRenamed on each side would fork the
    plans). ``payload`` must be (id, {col})."""
    bp = F.broadcast(payload)
    return (
        pairs.join(bp.alias("pa"), F.col("a_id") == F.col("pa.id"))
        .withColumn(f"a_{col}", F.col(f"pa.{col}")).drop("id", col)
        .join(bp.alias("pb"), F.col("b_id") == F.col("pb.id"))
        .withColumn(f"b_{col}", F.col(f"pb.{col}")).drop("id", col)
    )


def _attach_toks(pairs: DataFrame, toks: DataFrame) -> DataFrame:
    return _attach_pair_payload(pairs, toks, "toks")


def jaccard_verified(attached: DataFrame,
                     threshold: float | None = None) -> DataFrame:
    """(a_id, b_id, jaccard) from a pair stream with attached
    ``a_toks``/``b_toks`` — EXACTLY ONE ``array_intersect`` evaluated
    per pair, filter or no filter.

    The intersect size is emitted through ``explode(array(...))``: a
    one-element generator is a no-op row-wise, but predicates cannot
    push through Generate, so a ``jaccard >= t`` filter lands on the
    generator OUTPUT instead of being alias-substituted back into the
    projection (which re-evaluates the intersect — measured +50% on
    the q23 verify). The jaccard arithmetic above the barrier is
    integer-cheap; only the set op is pinned."""
    sa, sb, isz = F.col("__sa"), F.col("__sb"), F.col("__i")
    out = attached.select(
        "a_id", "b_id",
        F.size("a_toks").alias("__sa"), F.size("b_toks").alias("__sb"),
        F.explode(
            F.array(F.size(F.array_intersect("a_toks", "b_toks")))
        ).alias("__i"),
    ).select(
        "a_id", "b_id",
        (isz.cast("double") / (sa + sb - isz)).alias("jaccard"),
    )
    if threshold is not None:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def seen_index_neardup_dropped(
    seen: DataFrame,
    in_batch: Column,
    threshold: float = 0.8,
    symmetric: bool = False,
    n_salts: int = 32,
) -> DataFrame:
    """Drop verdicts for one incremental pass over a near-dup
    *seen-index*: ``seen`` is (id, bands array<long>, toks
    array<long>, ...) covering every doc processed so far INCLUDING
    the current batch, ``in_batch`` a boolean over ``seen``'s columns
    marking the batch's rows. Returns one ``id`` per doc that has a
    verified jaccard >= ``threshold`` partner with a smaller id among
    the pairs this pass is responsible for discovering.

    The ONE implementation behind both incremental surfaces (batch
    q87, streaming q88) — round-6 review finding: the two ~40-line
    copies could silently drift. Candidate joins are deliberately
    one-sided (full index x batch-restricted side) so the batch
    predicate prunes BELOW the band self-join; a disjunctive
    ``a-in-batch OR b-in-batch`` filter referencing both sides is only
    evaluable post-match and degrades every pass to a full index x
    index join (O(index²) per hot band, growing quadratically over a
    stream).

    ``symmetric=False``: arrival order == id order (id-ranged
    batches), so every newly-discoverable pair has its LARGER id in
    the batch — one join, b side restricted. ``symmetric=True``:
    arrival order is independent of id order (hash-split streams), so
    a pair is discovered in the batch of its later-ARRIVING member,
    which can sit on either side — two one-sided joins, unioned;
    ``distinct`` collapses pairs caught by both legs.

    ``n_salts`` parallelizes the band joins via the shared
    ``_salted_band_join`` (hash-salt the full-index side, replicate
    the smaller batch side — measured ~1.5x on the warm sf0.1
    three-batch pass at S=32; S=8 trailed by ~13%, the pair blowup
    wants the full core count).
    """
    banded = seen.withColumn("__in", in_batch).select(
        "id", "__in", F.explode("bands").alias("band")
    )
    batch_banded = banded.filter(F.col("__in"))

    def pair_ids(joined: DataFrame) -> DataFrame:
        return joined.select(F.col("a.id").alias("a_id"),
                             F.col("b.id").alias("b_id"))

    cand = pair_ids(_salted_band_join(banded, batch_banded, n_salts))
    if symmetric:
        cand = cand.unionByName(pair_ids(
            _salted_band_join(batch_banded, banded, n_salts,
                              replicate="a")))
    cand = cand.distinct()
    # no broadcast hints: the index grows with the corpus, so join
    # strategy stays the planner's size-based call (the q83 lesson)
    all_toks = seen.select("id", "toks")
    attached = (
        cand.join(
            all_toks.select(F.col("id").alias("a_id"),
                            F.col("toks").alias("a_toks")), "a_id")
        .join(
            all_toks.select(F.col("id").alias("b_id"),
                            F.col("toks").alias("b_toks")), "b_id")
    )
    return (
        jaccard_verified(attached, threshold=threshold)
        .select(F.col("b_id").alias("id")).distinct()
    )


def fuzzy_contamination(docs: DataFrame, bench: DataFrame,
                        threshold: float = 0.5,
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        bench_text_col: str = "text",
                        bench_id_col: str = "bench_id",
                        n_hashes: int = N_HASHES,
                        band_size: int = BAND_SIZE) -> DataFrame:
    """FUZZY benchmark decontamination — the third tier of the
    contamination surface (exact shingle membership and the Bloom
    prefilter catch verbatim inclusion; this catches light rewrites:
    an eval question paraphrased, re-tokenized, or padded into a
    training document, the Llama-style near-match decontamination).

    Mechanism: cross-corpus MinHash-LSH. Corpus and benchmark sides
    both get the repo's integer minhash signatures + 62-bit Horner
    band keys (``_sig_agg``/``minhash_bands`` — the q21-gated family,
    bit-identical in SQL); candidates are (doc, bench) rows sharing
    >= 1 band, generated by a BROADCAST join of the benchmark's band
    table (benchmark-sized, tiny by the q66 contract — the corpus
    side never shuffles); candidates verify by exact token-set
    jaccard (``jaccard_verified`` — one array_intersect per pair).

    Output: one row per DOCUMENT (left join — clean docs included):
    ``doc_id, n_fuzzy_matches, max_fuzzy_jaccard,
    fuzzy_contaminated``. Jaccard is an exact integer ratio, so the
    whole frame value-hash-gates.

    Scale shape: corpus-side cost is one signature aggregate + a
    band explode (n_bands rows/doc) probed against a broadcast —
    no corpus shuffle; verify touches candidates only. LANDING
    ROUTE: rides q66's r13 re-gate (contamination surface;
    r11-gated, due r13) as kind='fuzzy' rows; draft in
    tests/test_r15_gate_drafts.py."""
    dsig = _sig_agg(docs, text_col, id_col, n_hashes).select(
        "id",
        minhash_bands(F.col("sig"), n_hashes, band_size).alias("bands"),
    )
    d_banded = dsig.select("id", F.explode("bands").alias("band"))
    bsig = _sig_agg(bench, bench_text_col, bench_id_col,
                    n_hashes).select(
        F.col("id").alias("b_id"),
        minhash_bands(F.col("sig"), n_hashes, band_size).alias("bands"),
    )
    b_banded = bsig.select("b_id", F.explode("bands").alias("band"))
    cand = (
        d_banded.join(F.broadcast(b_banded), "band")
        .select(F.col("id").alias("a_id"), F.col("b_id"))
        .distinct()
    )
    dtoks = hashed_token_sets_df(docs, text_col, id_col)
    btoks = hashed_token_sets_df(bench, bench_text_col, bench_id_col)
    attached = (
        cand.join(dtoks.select(F.col("id").alias("a_id"),
                               F.col("toks").alias("a_toks")),
                  "a_id")
        .join(F.broadcast(
            btoks.select(F.col("id").alias("b_id"),
                         F.col("toks").alias("b_toks"))), "b_id")
    )
    matches = jaccard_verified(attached, threshold)
    per_doc = matches.groupBy(F.col("a_id").alias("_did")).agg(
        F.count_distinct("b_id").alias("n_fuzzy_matches"),
        F.max("jaccard").alias("max_fuzzy_jaccard"),
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, F.col("doc_id") == F.col("_did"), "left")
        .select(
            "doc_id",
            F.coalesce("n_fuzzy_matches", F.lit(0)).cast("long")
            .alias("n_fuzzy_matches"),
            F.col("max_fuzzy_jaccard"),
            (F.coalesce("n_fuzzy_matches", F.lit(0)) > 0)
            .alias("fuzzy_contaminated"),
        )
    )
