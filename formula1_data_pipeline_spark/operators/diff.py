"""Dataset version diff — row-level added / removed / changed
between two snapshots of a keyed table.

The audit step between corpus versions a training-data pipeline
runs before retraining ("what changed since the last cut?") and the
readable face of the txn layer's time travel (``read_table(...,
version=...)`` gives the two sides; ``txn_delete_keys`` produces
exactly the 'removed' rows this report must show). The shape is the
Delta-Lake change-data-feed question answered engine-side, with no
log requirement: ONE null-safe full outer join on the key, comparing
a content hash per side.

Semantics:

* ``added``   — key present only in ``new``.
* ``removed`` — key present only in ``old``.
* ``changed`` — key in both, content hash differs over
  ``compare_cols`` (default: all shared non-key columns, sorted by
  name so both engines agree on the order).
* unchanged rows are dropped (the report is the delta, not the
  corpus) — at 100 TB the output is |changes|, not |rows|.

Content hash: md5 over the CONCATENATION OF PER-COLUMN md5s, with
NULL contributing a literal '-' token. Three aliasing traps this
closes (second round-11 review pass): ``concat_ws`` silently SKIPS
nulls, so ("a", NULL, "b") and ("a", "b", NULL) collide; a raw
'|'-join lets values containing the separator shift across column
boundaries, so ("a|b", "c") collides with ("a", "b|c"); and a NULL
sentinel collides with a literal occurrence of the sentinel string.
Per-column tokens are either exactly 32 hex chars or the 1-char '-'
(not a hex digit), so the token sequence decomposes unambiguously —
no value can alias another row's.

Cross-engine parity scope (round-12 ADVICE): the hash goes through
each engine's value->string rendering (Spark ``cast("string")`` vs
DuckDB ``CAST(AS VARCHAR)``), and those renderings agree ONLY for
integral and string columns. DOUBLE/FLOAT diverge at the
scientific-notation threshold (Spark '1.0E-7' vs DuckDB '1e-07'),
and TIMESTAMP/array renderings differ too — the diff itself stays
internally consistent for any types (both sides of the join use the
same engine), but the DuckDB-replayable full-value-hash claim holds
only when ``compare_cols`` are integral/string. Canonicalize floats
and timestamps to strings yourself (fixed-format ``format_number``/
``date_format`` twins) before handing them to a cross-engine-gated
diff.

Scale shape: one hash-partitioned full outer join on the key (a
NULL-SAFE equality — NULL keys match each other, so an unchanged
NULL-keyed row is not reported as a phantom remove+add) — both
sides shuffle once on the join key, the hash is a codegen'd
projection, and the filter drops unchanged rows before any further
stage. No window, no driver state.

Pre-staged round 11 (third session); LANDING ROUTE: rides q75's r12
re-gate (q75 owns time travel + the targeted delete's
before/after legs, r10-gated, due r12) as kind='diff' rows — the
deleted keys MUST surface as status='removed', tying the diff
report to the delete's contract under one gate. Draft:
tests/test_r14_gate_drafts.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: per-column NULL token inside the content hash — one char, not a
#: hex digit, so it can never alias part of a neighbouring md5.
NULL_MARK = "-"


def content_hash(cols: list[str]) -> F.Column:
    """md5 over the concatenated per-column md5s (NULL -> '-') — the
    alias-proof row-content fingerprint both engines compute
    identically (module docstring)."""
    if not cols:
        return F.md5(F.lit(""))
    return F.md5(F.concat(*[
        F.coalesce(F.md5(F.col(c).cast("string")), F.lit(NULL_MARK))
        for c in cols
    ]))


def content_hash_sql(cols: list[str]) -> str:
    """DuckDB twin of ``content_hash`` (same tokens, same order)."""
    if not cols:
        return "md5('')"
    toks = ", ".join(
        f"coalesce(md5(CAST({c} AS VARCHAR)), '{NULL_MARK}')"
        for c in cols)
    return f"md5(concat({toks}))"


def dataset_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level diff report: ``status`` (added / removed / changed)
    + key cols + ``old_hash`` / ``new_hash`` (NULL on the absent
    side). ``compare_cols`` defaults to every column both sides
    share minus the keys, sorted by name."""
    if compare_cols is None:
        shared = set(old.columns) & set(new.columns)
        compare_cols = sorted(shared - set(key_cols))
    o = old.select(
        *[F.col(k).alias(f"_ok_{k}") for k in key_cols],
        content_hash(compare_cols).alias("old_hash"))
    n = new.select(
        *[F.col(k).alias(f"_nk_{k}") for k in key_cols],
        content_hash(compare_cols).alias("new_hash"))
    # NULL-SAFE key equality: a NULL-keyed row present unchanged on
    # both sides must match itself, not surface as remove+add
    cond = None
    for k in key_cols:
        c = F.col(f"_ok_{k}").eqNullSafe(F.col(f"_nk_{k}"))
        cond = c if cond is None else (cond & c)
    joined = o.join(n, on=cond, how="full_outer")
    status = (
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") != F.col("new_hash"),
              F.lit("changed"))
    )
    return (
        joined.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(
            "status",
            *[F.coalesce(F.col(f"_ok_{k}"), F.col(f"_nk_{k}"))
              .alias(k) for k in key_cols],
            "old_hash", "new_hash",
        )
    )
