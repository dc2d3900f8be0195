"""Token-budget data selection — "keep the best B tokens".

Pretraining runs fix a TOKEN budget, not a document count: given a
quality score per document (heuristic q25, trained classifier q99,
LM filter ``operators/lm.py``, or DSIR weights q93), the selection
stage keeps the highest-scoring documents whose cumulative token
count fills the budget (the DataComp-LM / phi-style "top-k% by
classifier score" curation step, stated in tokens). Semantics:

    order documents by (score DESC, id ASC);
    keep a document iff the running token total BEFORE it < budget.

The greedy prefix is deterministic (ties broken by id) and the last
kept document may straddle the budget boundary — the same "start
offset inside the window" rule ``packing.pack_sequences`` uses.

Scale shape (100 TB): a naive ``Window.orderBy(score DESC)`` prefix
sum funnels the corpus through ONE task. This module reuses the
repo's two-level distributed prefix sum (packing.py/shards.py), with
one extra trick the others don't need — *budget pruning*:

1. quantize the score to an exact bigint (decimal fixed-point, no
   float-ordering hazards) and range-bucket the id, so the composite
   bucket key ``(score_q, id_bkt)`` ordered by (score_q DESC,
   id_bkt ASC) equals the row order (id_bkt = floor(id/bucket_size)
   is monotone in id within a score),
2. one map-side partial-aggregated ``groupBy`` computes each
   bucket's token total,
3. the only unpartitioned window orders the METADATA-sized bucket
   table (corpus_rows / bucket_size rows — the packing.py bound),
4. **buckets whose running offset already meets the budget are
   dropped BEFORE the join back** — so the per-bucket ranking
   window and the final filter touch only ~budget worth of rows,
   however large the corpus. The offset table that survives pruning
   is ~budget / bucket_tokens rows — broadcastable at any corpus
   size (unlike packing.py, whose full offset table scales with the
   corpus).

Total: one narrow aggregate + one broadcast join + bounded windows.
Selection cost is proportional to the BUDGET, not the corpus.

Cross-engine determinism: token counts and running totals are exact
integer sums; score quantization goes through DECIMAL(18,6) (exact,
associative; the double->decimal rounding-tie caveat in queries.py's
module doc applies). The whole operator replays in ANSI SQL as one
ordered window sum, so it gates with a value-hash oracle.

Not in the reference (`/root/reference` ends at dbt marts); part of
the SURVEY §2.12 training-data-pipeline charter. Pre-staged for a
round-10 gate (the r8->r9 pattern): cross-engine parity proven in
``tests/test_r10_gate_drafts.py`` now; the catalog row lands when
the gate budget frees.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.operators.packing import (
    _require_numeric_id,
)
from formula1_data_pipeline_spark.session import local_frame


def quantize6(score: Column) -> Column:
    """Exact fixed-point view of a score: 6-dp decimal scaled to a
    BIGINT (score 0.8125 -> 812500). Decimal arithmetic is exact and
    engine-identical, so ordering by the quantized value is safe
    where ordering raw doubles cross-engine is not. Precondition:
    |score| < ~1e6 (decimal(18,6) headroom; quality scores are
    ratios in [0, 1] plus small composites)."""
    return (score.cast("decimal(18,6)") * 1000000).cast("bigint")


def select_token_budget(
    docs: DataFrame,
    score: Column,
    n_tokens: Column,
    budget: int,
    id_col: str = "doc_id",
    bucket_size: int = 1000,
) -> DataFrame:
    """Greedy token-budget selection: the (score DESC, id ASC)-ordered
    prefix of documents whose start offset lands inside ``budget``.
    Returns (id_col, score_q, n_tokens, cum_before) — only the KEPT
    rows; ``cum_before`` is the exact number of selected tokens
    preceding the document, so downstream packing/sharding can reuse
    it as a dense layout offset for free.

    Deterministic: a pure function of (id, quantized score, token
    count); independent of physical partitioning (property-tested).

    NULL handling (explicit, not an ordering accident): a NULL score
    quantizes to NULL, and Spark and DuckDB DISAGREE on where NULL
    sorts under DESC+ASC mixes — so NULL scores are coalesced to the
    minimum bigint and sort strictly LAST (kept only if the budget
    survives every scored document; ties still break by id). A NULL
    token count is an upstream defect, not a policy choice — it
    would silently corrupt every later offset through sum()'s
    NULL-skip (the round-8 train_logreg ADVICE class) — so those
    rows count 0 tokens via an explicit coalesce and are therefore
    "free"; callers that want them gone should filter first.

    ``id_col`` must be numeric — the same range-bucketing
    precondition as ``pack_sequences`` (string ids: rank them first
    via ``shards.epoch_shuffle``'s md5-rank recipe)."""
    if budget < 1:
        raise ValueError(f"budget must be >= 1: {budget}")
    _require_numeric_id(docs, id_col, "select_token_budget")
    d = docs.select(
        F.col(id_col),
        F.coalesce(
            quantize6(score), F.lit(-(2 ** 63) + 1).cast("bigint")
        ).alias("score_q"),
        F.coalesce(n_tokens.cast("long"), F.lit(0)).alias("n_tokens"),
        F.floor(F.col(id_col) / bucket_size).alias("_ibkt"),
    )
    bucket_sums = d.groupBy("score_q", "_ibkt").agg(
        F.sum("n_tokens").alias("_bsum")
    )
    # the only unpartitioned window: the metadata-sized bucket table,
    # in selection order (score DESC, id-range ASC)
    w_off = (
        Window.orderBy(F.desc("score_q"), F.asc("_ibkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bucket_sums.select(
        "score_q",
        "_ibkt",
        F.coalesce(F.sum("_bsum").over(w_off), F.lit(0)).alias("_offset"),
    ).filter(
        # budget pruning: a bucket whose offset already meets the
        # budget cannot contribute a kept row — drop it before the
        # join, so the per-bucket window below runs over ~budget
        # tokens of rows total, whatever the corpus size
        F.col("_offset") < budget
    )
    w_in = (
        Window.partitionBy("score_q", "_ibkt")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        d.join(F.broadcast(offsets), ["score_q", "_ibkt"])
        .withColumn(
            "cum_before",
            F.col("_offset")
            + F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0)),
        )
        .filter(F.col("cum_before") < budget)
        .select(id_col, "score_q", "n_tokens", "cum_before")
    )


def select_token_budget_by_group(
    docs: DataFrame,
    score: Column,
    n_tokens: Column,
    group_col: str,
    budgets: dict,
    default_budget: int | None = None,
    id_col: str = "doc_id",
    bucket_size: int = 1000,
) -> DataFrame:
    """Per-GROUP token budgets — the data-mixing form of
    ``select_token_budget`` (round 13): pretraining mixtures are
    stated as per-domain/per-language token quotas ("300B web, 30B
    code, 15B math"), and each group must fill its own quota from
    its own best documents rather than compete in one global
    ranking. Each group keeps the (score DESC, id ASC)-ordered
    prefix of ITS documents whose start offset lands inside the
    group's budget. Returns (group_col, id_col, score_q, n_tokens,
    cum_before) — ``cum_before`` is the within-group dense offset.

    ``budgets``: {group value -> token budget}; groups absent from
    the dict use ``default_budget``, or are DROPPED ENTIRELY when it
    is None — explicit mixture control, not an accident (property:
    the output never contains a group without a budget). A NULL
    group value is one group like any other (round-13 ADVICE: plain
    equi-joins silently dropped NULL keys AFTER granting them
    default_budget): internally NULL maps to a reserved sentinel key
    for the joins/windows and maps back to NULL in the output; a
    ``None`` key in ``budgets`` addresses the NULL group explicitly,
    else it follows the default_budget rule.

    Scale shape: strictly BETTER than the global form — the
    bucket-offset window (the global operator's one unpartitioned
    stage) partitions by group here, so no single task ever sees
    more than one group's metadata-sized bucket table; budget
    pruning then bounds the join-back at ~sum(budgets) worth of
    rows. The budget table is caller-provided mixture config (tiny,
    broadcast). Same NULL/decimal/tie rules as the global form;
    replays in ANSI SQL as per-group ordered window sums, so it
    gates with a value-hash oracle."""
    if default_budget is not None and default_budget < 1:
        raise ValueError(
            f"default_budget must be >= 1 or None: {default_budget}")
    for g, b in budgets.items():
        if b < 1:
            raise ValueError(f"budget for group {g!r} must be >= 1: {b}")
    _require_numeric_id(docs, id_col, "select_token_budget_by_group")
    spark = docs.sparkSession
    # NULL-group sentinel: every join/groupBy/window below keys on
    # _gkey (never NULL), so NULL-group rows flow like any other
    # group instead of vanishing at the inner equi-joins; the output
    # carries the original (possibly NULL) group_col
    null_key = "\x00__null_group__"
    bdf = local_frame(
        spark,
        [(g if g is not None else null_key, int(b))
         for g, b in budgets.items()],
        "_gkey string, _budget long",
    )
    d = docs.select(
        F.col(group_col).cast("string").alias(group_col),
        F.col(id_col),
        F.coalesce(
            quantize6(score), F.lit(-(2 ** 63) + 1).cast("bigint")
        ).alias("score_q"),
        F.coalesce(n_tokens.cast("long"), F.lit(0)).alias("n_tokens"),
        F.floor(F.col(id_col) / bucket_size).alias("_ibkt"),
    ).withColumn(
        "_gkey", F.coalesce(F.col(group_col), F.lit(null_key))
    )
    if default_budget is None:
        d = d.join(F.broadcast(bdf), "_gkey")  # budgetless: dropped
    else:
        d = d.join(F.broadcast(bdf), "_gkey", "left").withColumn(
            "_budget",
            F.coalesce("_budget", F.lit(int(default_budget))),
        )
    bucket_sums = d.groupBy("_gkey", "_budget", "score_q",
                            "_ibkt").agg(
        F.sum("n_tokens").alias("_bsum")
    )
    w_off = (
        Window.partitionBy("_gkey")
        .orderBy(F.desc("score_q"), F.asc("_ibkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bucket_sums.select(
        "_gkey", "_budget", "score_q", "_ibkt",
        F.coalesce(F.sum("_bsum").over(w_off), F.lit(0))
        .alias("_offset"),
    ).filter(F.col("_offset") < F.col("_budget"))
    w_in = (
        Window.partitionBy("_gkey", "score_q", "_ibkt")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        d.drop("_budget")
        .join(F.broadcast(offsets), ["_gkey", "score_q", "_ibkt"])
        .withColumn(
            "cum_before",
            F.col("_offset")
            + F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0)),
        )
        .filter(F.col("cum_before") < F.col("_budget"))
        .select(group_col, id_col, "score_q", "n_tokens",
                "cum_before")
    )
