"""Int8 scalar quantization of embedding columns — the 4x storage
tier under the ANN stack.

At 100 TB the embedding column dominates storage (64 float32 = 256
bytes/row); symmetric per-dimension scalar quantization (the
faiss/SQ8 baseline) stores 64 int8 codes + one 64-double scale row
and reconstructs within scale/254 per dimension — enough for
candidate generation, with exact re-rank reading the full vectors
for survivors only (the rp_topk/IVF discipline).

Determinism (what lets the codes sit under a FULL value hash, where
trained quantizers bound): the scale vector is a per-dimension
``max(abs(v_i))`` — an order-free exact SELECTION of an input value,
not a float sum — and encode is ``round(v_i * 127 / s_i)`` on
identically-constructed IEEE operands, so both engines produce
bit-identical codes. Compare ``similarity.py``'s trained Lloyd
path (bounds-gated); this is the untrained exact twin.

Scale shape: ONE d-column aggregate pass for the scales (map-side
combine, d doubles of state — no explode, no shuffle beyond the
1-row agg), then encode/decode as shuffle-free codegen'd per-row
maps with the scales inlined as literals. All-zero dimensions get
scale 0 and code 0 (NULL-guarded division, mirrored in the oracle).

Pre-staged round 11 (third session); LANDING ROUTE: rides q92's r13
re-gate (q92 owns the ANN-recall surface, r9/r11-gated, due r13) as
kind='sq8' rows — codes under the full value hash plus a
deterministic reconstruction-bound boolean. Draft:
tests/test_r14_gate_drafts.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sq8_scales(df: DataFrame, vec_col: str, d: int) -> list[float]:
    """Per-dimension max(abs(v_i)) over the corpus — the symmetric
    quantization scales. One aggregate pass, d doubles of state."""
    aggs = [
        F.max(F.abs(F.element_at(
            F.transform(F.col(vec_col), lambda x: x.cast("double")),
            i + 1,
        ))).alias(f"s{i}")
        for i in range(d)
    ]
    row = df.filter(F.col(vec_col).isNotNull()).agg(*aggs).first()
    return [float(row[f"s{i}"]) if row[f"s{i}"] is not None else 0.0
            for i in range(d)]


def sq8_encode(
    df: DataFrame,
    vec_col: str,
    scales: list[float],
    out_col: str = "sq8",
) -> DataFrame:
    """Append ``out_col``: int8 codes ``round(v_i * 127 / s_i)``
    with the scales inlined as literals (shuffle-free projection).
    A zero scale (all-zero dimension) encodes 0.

    Codes are CLAMPED to [-127, 127] (round-12 ADVICE): when the
    scales were fit on the exact corpus being encoded, |v_i| <= s_i
    by construction and the clamp is a no-op — but encoding a NEW
    batch against landed scales can exceed them, and an unclamped
    code would silently break int8 downstream storage and the
    documented s/254 reconstruction bound. A clamped out-of-range
    value saturates (the standard SQ8 behavior); refresh the scales
    via a rebuild when saturation matters."""
    lit_s = F.array(*[F.lit(s) for s in scales])
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    codes = F.zip_with(
        vec, lit_s,
        lambda v, s: F.greatest(
            F.lit(-127),
            F.least(
                F.lit(127),
                F.coalesce(
                    F.round(v * F.lit(127.0) / F.nullif(s, F.lit(0.0)),
                            0).cast("int"),
                    F.lit(0),
                ),
            ),
        ),
    )
    return df.withColumn(out_col, codes)


def sq8_decode(
    df: DataFrame,
    code_col: str,
    scales: list[float],
    out_col: str = "deq",
) -> DataFrame:
    """Append ``out_col``: reconstruction ``code_i * s_i / 127`` —
    within s_i/254 of the original per dimension (round-half
    interval), the bound the gate pins as a boolean."""
    lit_s = F.array(*[F.lit(s) for s in scales])
    deq = F.zip_with(
        F.col(code_col), lit_s,
        lambda q, s: q.cast("double") * s / F.lit(127.0),
    )
    return df.withColumn(out_col, deq)


def sq8_scales_sql(vec_sql: str, table: str, d: int) -> str:
    """DuckDB twin of ``sq8_scales`` as a 1-row CTE body producing a
    LIST column ``s`` (vec_sql must be a DOUBLE list expression over
    ``table``)."""
    elems = ", ".join(
        f"max(abs(({vec_sql})[{i + 1}]))" for i in range(d))
    return f"SELECT [{elems}] AS s FROM {table}"


def sq8_encode_sql(vec_sql: str, scales_col: str = "s") -> str:
    """DuckDB twin of ``sq8_encode``'s code list (same NULL-guarded
    division, same round-then-cast, same [-127, 127] clamp)."""
    return (
        f"list_transform(list_zip({vec_sql}, {scales_col}), "
        f"p -> greatest(-127, least(127, "
        f"coalesce(CAST(round(p[1] * 127.0 / nullif(p[2], 0.0), 0)"
        f" AS INTEGER), 0))))"
    )
