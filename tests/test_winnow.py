"""Winnowing fingerprints (operators/text.py) vs an independent
Python reference implementation of the SIGMOD'03 local-min selection,
plus the detection guarantee, the column/df form identity, and the
generator-barrier plan shape."""

import hashlib

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.operators import text as T

_SETTINGS = dict(max_examples=8, deadline=None)
_P = 1 << 21


def _winnow(docs):
    """(id, pos, fp_hash) per fingerprint — q28's bulk composition of
    the shared shingle-hex substrate and the windowed selection."""
    return T.winnow_select(T.winnow_shingle_hexes(docs))


def _ref_winnow(text: str, k: int = 3, w: int = 4) -> set:
    """Independent reference: literal paper algorithm — hash every
    k-gram, per window of w hashes select the minimum (rightmost on
    ties), fingerprints = distinct (pos, hash)."""
    toks = [t for t in text.strip().lower().split() if t]
    if len(toks) < k:
        hs = []
    else:
        hs = [
            int(
                hashlib.md5(
                    " ".join(toks[i:i + k]).encode()
                ).hexdigest()[:10],
                16,
            )
            for i in range(len(toks) - k + 1)
        ]
    out = set()
    for j in range(len(hs) - w + 1):
        win = hs[j:j + w]
        m = min(win)
        p = max(i for i, h in enumerate(win) if h == m) + j
        out.add((p, hs[p]))
    return out


_tok = st.text(alphabet="abcdef", min_size=1, max_size=2)


@settings(**_SETTINGS)
@given(docs=st.lists(
    st.lists(_tok, min_size=0, max_size=24).map(" ".join),
    min_size=1, max_size=6,
))
def test_winnow_matches_reference(spark, docs):
    rows = list(enumerate(docs))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id, r.pos, r.fp_hash)
        for r in _winnow(df).collect()
    }
    exp = {(d, p, h) for d, t in rows for p, h in _ref_winnow(t)}
    assert got == exp


def test_column_and_df_forms_agree(spark):
    rows = [
        (1, "a b c d e f g a b c d e"),
        (2, "x y z a b c d e f q r s"),
        (3, "only three tokens"),  # 1 hash < w -> empty
        (4, ""),
        (5, "t t t t t t t t t t"),  # all-equal hashes: pure tie-break
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    col_rows = set()
    for r in df.select(
        "doc_id", T.winnow_encoded(F.col("text")).alias("e")
    ).collect():
        for e in r.e:
            col_rows.add((r.doc_id, _P - 1 - (e % _P), e >> 21))
    df_rows = {
        (r.id, r.pos, r.fp_hash)
        for r in _winnow(df).collect()
    }
    assert col_rows == df_rows
    # short/empty docs select nothing
    assert not {r for r in df_rows if r[0] in (3, 4)}
    # the all-ties doc still fingerprints (rightmost-min per window)
    assert {r for r in df_rows if r[0] == 5}


def test_detection_guarantee_shared_run(spark):
    """Any shared token run of >= w + k - 1 = 6 tokens must share a
    fingerprint HASH — the property that distinguishes winnowing from
    the length-diluted bottom-k sketch."""
    shared = "s1 s2 s3 s4 s5 s6"
    df = spark.createDataFrame(
        [(100, "p q r " + shared + " u v"), (101, shared + " zz yy")],
        "doc_id long, text string",
    )
    fps = _winnow(df).collect()
    h100 = {r.fp_hash for r in fps if r.id == 100}
    h101 = {r.fp_hash for r in fps if r.id == 101}
    assert h100 & h101


def test_density_bound(spark):
    """Selections are per-window minima: at most nh - w + 1 and at
    least ceil(nh / w) fingerprints for a doc with nh hashes."""
    text = " ".join(f"w{i % 13}" for i in range(60))  # nh = 58
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    n = _winnow(df).count()
    nh = 58
    w = T.WINNOW_W
    assert nh // w <= n <= nh - w + 1


def test_single_exchange_plan_shape(spark):
    """The whole pipeline — shingle windows, winnowing min-window,
    per-doc dedup — must share ONE doc-id Exchange: the selection
    windows reuse the lead() window's sort, and the dedup is
    groupBy(id).collect_set (not .distinct(), which would add a
    second exchange on (id, e))."""
    df = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id long, text string"
    )
    plan = (
        _winnow(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    n_exchange = plan.count("Exchange") - plan.count("ReusedExchange")
    assert n_exchange == 1, plan


def test_q28_reuses_one_shingle_exchange(spark):
    """q28's two fingerprint legs scan the same shingle frame: the
    second leg's doc-id Exchange must plan as a ReusedExchange, so
    the corpus is scanned and hashed once."""
    from formula1_data_pipeline_spark.queries import CATALOG

    q = CATALOG["q28_shingle_fingerprint"].fn(
        spark, "/root/testdata/sf0.001"
    )
    q.collect()  # AQE reuses exchanges at runtime — inspect the
    plan = q._jdf.queryExecution().executedPlan().toString()  # final plan
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, plan


def test_position_overflow_guard_fires(spark, monkeypatch):
    """A doc with >= 2^_POS_BITS shingles must fail loudly, not alias
    positions. Patch the span down so the guard is reachable."""
    monkeypatch.setattr(T, "_POS_SPAN", 8)
    df = spark.createDataFrame(
        [(1, " ".join(f"u{i}" for i in range(16)))],  # 14 hashes >= 8
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="shard it upstream"):
        _winnow(df).collect()


def test_q28_fused_matches_standalone_ops(spark):
    """q28's fused single-pass plan must be row-identical to the union
    of the two standalone operators over real data."""
    from formula1_data_pipeline_spark.queries import CATALOG, load

    sf = "/root/testdata/sf0.001"
    fused = {
        tuple(r) for r in
        CATALOG["q28_shingle_fingerprint"].fn(spark, sf).collect()
    }
    docs = load(spark, sf, "documents")["documents"]
    bottomk = {
        ("bottomk", r.id, i + 1, None, h)
        for r in T.shingle_fingerprints_df(docs).collect()
        for i, h in enumerate(r.fingerprint)
    }
    winnow = {
        ("winnow", r.id, None, r.pos, r.fp_hash)
        for r in _winnow(docs).collect()
    }
    assert fused == bottomk | winnow
