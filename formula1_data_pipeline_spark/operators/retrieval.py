"""BM25 ranked retrieval over the document corpus — Robertson &
Sparck Jones probabilistic weighting in its BM25 form (Robertson et
al., TREC-3 1994; Robertson & Zaragoza 2009, "The Probabilistic
Relevance Framework: BM25 and Beyond"). The retrieval leg a
training-data pipeline needs for targeted corpus auditing: "show me
the documents this benchmark question could have leaked from"
(decontamination triage, q66's contamination check turned into a
ranked search), and for building retrieval training pairs.

Not in the reference (`/root/reference` has no search surface);
§2.12 extension charter. Complements q39 (TF-IDF top terms PER DOC)
with the transposed problem: top docs per QUERY, with the BM25
saturation + length normalization that plain TF-IDF lacks.

Cross-engine determinism discipline: BM25's ln() idf is replaced by
the linear idf ratio (N - df + 0.5)/(df + 0.5) — the q39 rule (no
libm in a value-hashed oracle path; monotone in the same direction,
so rankings for a fixed query differ only where ln's compression
reorders cross-term sums — acceptable for a corpus-audit surface and
exactly reproducible, which the audit needs more). With the standard
constants k1 = 6/5 and b = 3/4 held as exact rationals, every factor
of the per-(query,doc,term) score is an INTEGER product (exact in
doubles below 2^53), so the score is ONE IEEE divide, rounded to
6 dp, then summed per (query,doc) as DECIMAL — exact and
order-independent, the property a float sum over a shuffled term
stream cannot give. At planet scale the integer products approach
2^53 (tf·T·N terms); move the construction to DECIMAL(38,0) there —
the plan shape is unchanged.

Scale shape (100 TB): this is the classic distributed
posting-intersection plan — tf/df/dl each one map-side
partial-aggregated groupBy; the query-term table (tiny) BROADCASTS
onto the tf stream so candidate generation touches only postings of
query terms (filter-before-join: the inner join IS the pruning);
corpus stats ride in as a broadcast 1-row frame, never a driver
collect. The only per-query state is a top-k window over that
query's candidate docs — partitioned by query_id, never global.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from formula1_data_pipeline_spark.operators.dedup import tokens
from formula1_data_pipeline_spark.session import local_frame

#: k1 = 6/5, b = 3/4 (the standard Robertson defaults) pre-folded
#: into the scaled-integer construction below; changing them means
#: re-deriving the three coefficients, so they are constants, not
#: parameters:  tf_norm = tf(k1+1) / (tf + k1(1 - b + b·dl·N/T))
#: scaled through by 20T  →  44·tf·T / (20·tf·T + 18·dl·N + 6·T).
_TFN_NUM_COEF = 44
_TFN_TF_COEF = 20
_TFN_DL_COEF = 18
_TFN_CONST_COEF = 6


def bm25_topk(
    docs: DataFrame,
    queries_df: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    qid_col: str = "query_id",
    qtext_col: str = "query_text",
) -> DataFrame:
    """Top-``k`` documents per query by linear-idf BM25.

    ``queries_df`` is a (query_id, query_text) frame — typically tiny
    (benchmark prompts, audit probes); it is broadcast onto the
    posting lists. Query terms are DISTINCT per query (standard bag-
    of-words BM25 treats repeated query terms via qtf, which is 1 for
    the audit/dedup probes this serves; distinct keeps the candidate
    join a set intersection).

    Output: one row per (query, retained doc) —
      query_id, doc_id, n_terms_matched, score (double, 6 dp sum of
      6 dp term scores), rank (1-based, dense in each query).
    Ties break on (score desc, doc_id asc) — fully deterministic.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    # corpus stats from the dl aggregate (one row per token-bearing
    # doc) — NOT count_distinct over the occurrence stream, which
    # re-shuffles every token just to count docs. N therefore counts
    # token-bearing docs: an empty doc can never match a term, and
    # excluding it from N only rescales idf by a constant.
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("n_tokens"),
    )

    qterms = queries_df.select(
        F.col(qid_col).alias("query_id"),
        F.explode(F.array_distinct(tokens(F.col(qtext_col)))).alias("term"),
    )

    cand = (
        tf.join(F.broadcast(qterms), "term")
        .join(dfreq, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    return _rank_candidates(cand, k)


def _rank_candidates(cand: DataFrame, k: int) -> DataFrame:
    """Shared BM25 scoring + top-k tail: ``cand`` carries one row per
    (query_id, doc_id, matched term) with tf/df/dl/n_docs/n_tokens
    attached. THE one definition of the score math — the live-scan
    path (:func:`bm25_topk`) and the maintained-index path
    (:func:`bm25_index_topk`) must rank identically, so neither may
    own a private copy."""
    n, t = F.col("n_docs"), F.col("n_tokens")
    idf_num = (2 * n - 2 * F.col("df") + 1).cast("double")
    idf_den = (2 * F.col("df") + 1).cast("double")
    tfn_num = (_TFN_NUM_COEF * F.col("tf") * t).cast("double")
    tfn_den = (
        _TFN_TF_COEF * F.col("tf") * t
        + _TFN_DL_COEF * F.col("dl") * n
        + _TFN_CONST_COEF * t
    ).cast("double")
    term_score = F.round(
        (idf_num * tfn_num) / (idf_den * tfn_den), 6
    ).cast("decimal(18,6)")

    scored = cand.groupBy("query_id", "doc_id").agg(
        F.count("*").alias("n_terms_matched"),
        F.sum(term_score).alias("score_dec"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_dec").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            F.col("n_terms_matched").cast("long").alias("n_terms_matched"),
            F.col("score_dec").cast("double").alias("score"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# Incremental BM25 index maintenance — the continuous-ingestion path
# ---------------------------------------------------------------------------
#
# bm25_topk rescans the corpus per query batch; a production corpus is
# APPENDED to continuously, and the retrieval/audit surface must stay
# queryable without re-tokenizing 100 TB per probe. The maintained
# index is five manifest-txn tables under one directory (the q83/q87
# incremental-ingestion discipline — landed state is read-only,
# batches commit atomically ACROSS the tables via the commits marker,
# already-landed docs are skipped):
#
#   postings/   (doc_id, term, tf)   append-only, term stats recorded
#                                    per segment for scan pruning
#   doclen/     (doc_id, dl)         append-only; also the landed-ids
#                                    table the batch skip reads
#   dfdelta/    (term, df_delta)     APPEND-ONLY DELTA LOG: each batch
#                                    appends its per-term doc-count
#                                    delta; readers sum per term. Df
#                                    is corpus-wide state that every
#                                    batch touches — rewriting it per
#                                    batch would be a vocabulary-sized
#                                    write per append, the delta log
#                                    is batch-vocabulary-sized
#   statsdelta/ (n_docs_delta, n_tokens_delta)  1 row per batch
#   commits/    (attempt)             the CROSS-TABLE commit log:
#                                     every data row carries its
#                                     append attempt id, the marker
#                                     lands last, readers see only
#                                     committed attempts — so the
#                                     four per-table appends behave
#                                     as one atomic batch commit
#
# Query-time cost is INDEX-shaped, not corpus-shaped: the query terms
# are driver-known literals (audit probes — tiny by contract), so the
# postings and dfdelta scans carry an IN-list predicate that reaches
# the parquet reader (PushedFilters + per-segment term-range pruning
# via the manifest stats), and only the probed terms' postings move.
# Periodic compaction (bm25_index_compact) folds the delta logs; the
# data-dir count of every table is auto-compacted by the txn layer.

_POSTINGS, _DOCLEN, _DFDELTA, _STATSDELTA, _COMMITS = (
    "postings", "doclen", "dfdelta", "statsdelta", "commits")


def _index_tables(index_dir: str) -> dict[str, str]:
    return {n: f"{index_dir}/{n}"
            for n in (_POSTINGS, _DOCLEN, _DFDELTA, _STATSDELTA,
                      _COMMITS)}


def _committed_attempts(spark, index_dir: str) -> list[str]:
    """Attempt ids whose batches fully committed — the cross-table
    atomicity point. Each per-table ``txn_append`` is atomic only for
    its own table; a crash between the four data appends would
    otherwise leave the index internally inconsistent (postings
    without stats, or skip-marked docs whose df contribution is
    lost). Every data row therefore carries its attempt id, the tiny
    ``commits`` marker is appended LAST, and readers see only rows
    whose attempt committed — a crashed attempt's rows are invisible
    and its re-delivery re-appends under a fresh attempt id
    (round-10 review finding). Driver-resident and bounded by the
    number of appends."""
    from formula1_data_pipeline_spark.sources.txn import (
        is_txn_table,
        read_table,
    )

    t = _index_tables(index_dir)
    if not is_txn_table(spark, t[_COMMITS]):
        return []
    return [r["attempt"]
            for r in read_table(spark, t[_COMMITS]).collect()]


def _committed_only(df: DataFrame, attempts: list[str]) -> DataFrame:
    return df.filter(F.col("attempt").isin(attempts or ["-"])) \
        .drop("attempt")


def bm25_index_append(
    spark,
    batch: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Fold a document batch into the maintained index; returns the
    number of NEW documents indexed. Docs whose id is already landed
    are skipped (the S8 incremental-skip: the landed side is read as
    ids only — column-pruned — and the test is one anti-join), so
    re-delivered batches are idempotent.

    One tokenize pass per batch: tf, dl, the df delta, and the stats
    delta all derive from the batch's own (doc, term) aggregate —
    nothing corpus-sized is read or written."""
    import uuid

    from formula1_data_pipeline_spark.sources.txn import (
        is_txn_table,
        read_table,
        txn_append,
    )

    t = _index_tables(index_dir)
    attempt = uuid.uuid4().hex[:16]
    committed = _committed_attempts(spark, index_dir)
    new = batch.select(F.col(id_col).alias("doc_id"),
                       F.col(text_col).alias("text")) \
        .filter(F.col("doc_id").isNotNull())
    if is_txn_table(spark, t[_DOCLEN]):
        # landed = docs of COMMITTED attempts only: a crashed
        # attempt's doclen rows must not suppress the re-delivery
        landed = _committed_only(
            read_table(spark, t[_DOCLEN]), committed
        ).select("doc_id")
        new = new.join(landed, "doc_id", "left_anti")
    toks = new.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # one aggregate pass feeds everything below; without the persist
    # the batch re-tokenizes once per derived table
    tf = tf.persist()
    try:
        dl = tf.groupBy("doc_id").agg(
            F.sum("tf").cast("long").alias("dl"))
        dfd = tf.groupBy("term").agg(
            F.count("*").cast("long").alias("df_delta"))
        stats = dl.agg(
            F.count("*").cast("long").alias("n_docs_delta"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long")
            .alias("n_tokens_delta"),
        )
        n_new = dl.count()
        if n_new == 0:
            return 0
        tag = F.lit(attempt).alias("attempt")
        # the four delta appends target four DISJOINT txn tables and
        # all read the cached tf — their write/commit chains are
        # independent, so they run from driver threads (guide §2.6;
        # r14 optimization: ~8 sequential jobs/append -> ~4). Only
        # ordering that matters is marker-last, below.
        from formula1_data_pipeline_spark.concurrency import overlap

        overlap(spark, [
            ("bm25 append: postings",
             lambda: txn_append(spark, tf.select("*", tag),
                                t[_POSTINGS], stats_cols=["term"])),
            ("bm25 append: doclen",
             lambda: txn_append(spark, dl.select("*", tag),
                                t[_DOCLEN])),
            ("bm25 append: dfdelta",
             lambda: txn_append(spark, dfd.select("*", tag),
                                t[_DFDELTA], stats_cols=["term"])),
            ("bm25 append: statsdelta",
             lambda: txn_append(spark, stats.select("*", tag),
                                t[_STATSDELTA])),
        ])
        # the commit point: the four appends above are invisible to
        # every reader until this 1-row marker lands (itself a
        # single-table atomic append) — a crash anywhere earlier
        # leaves only orphan rows that readers filter out and the
        # re-delivered batch re-indexes under a new attempt.
        # overlap() raises only after every leg settles, so a failed
        # leg can never be followed by this marker.
        marker = local_frame(spark, [(attempt,)], "attempt string")
        txn_append(spark, marker, t[_COMMITS])
        return n_new
    finally:
        tf.unpersist()


def bm25_index_compact(spark, index_dir: str) -> None:
    """Fold the delta logs: dfdelta becomes one row per term (sum of
    deltas), statsdelta one row total. Query results are invariant
    (readers always sum the deltas); compaction only bounds the log
    length between appends — run it on the maintenance cadence, not
    the ingest path. Compactions are SERIALIZED by a lease (df deltas
    are sums — see ``acquire_compaction_lease``); a contended call
    returns without compacting."""
    lease = acquire_compaction_lease(index_dir)
    if lease is None:
        return
    try:
        _bm25_index_compact_locked(spark, index_dir)
    finally:
        release_compaction_lease(lease)


def _bm25_index_compact_locked(spark, index_dir: str) -> None:
    import uuid

    from formula1_data_pipeline_spark.sources.txn import (
        read_table,
        txn_append,
    )

    t = _index_tables(index_dir)
    # heal any prior compaction's crashed late-preservation BEFORE
    # snapshotting (see recover_pending_late — order is correctness)
    recover_pending_late(spark, t[_DFDELTA], stats_cols=["term"])
    recover_pending_late(spark, t[_STATSDELTA])
    committed = _committed_attempts(spark, index_dir)
    # the compacted rows need a COMMITTED attempt of their own, and
    # its marker must land FIRST: if the marker lands and the rewrite
    # crashes, the marker just references an attempt with no rows
    # (harmless); the reverse order would atomically swap a table to
    # rows no reader can see — data loss. Each overwrite below is
    # per-table atomic, and old-committed vs compacted rows are
    # value-equivalent at every intermediate point (readers only ever
    # SUM the deltas), so any crash leaves a correct index. Orphan
    # rows of crashed appends are dropped by the rewrite (they fail
    # the committed filter).
    attempt = uuid.uuid4().hex[:16]
    txn_append(
        spark,
        local_frame(spark, [(attempt,)], "attempt string"),
        t[_COMMITS],
    )
    tag = F.lit(attempt).alias("attempt")
    dfd = _committed_only(
        read_table(spark, t[_DFDELTA]), committed
    ).groupBy("term").agg(
        F.sum("df_delta").cast("long").alias("df_delta"))
    stats = _committed_only(
        read_table(spark, t[_STATSDELTA]), committed
    ).agg(
        F.sum("n_docs_delta").cast("long").alias("n_docs_delta"),
        F.sum("n_tokens_delta").cast("long").alias("n_tokens_delta"),
    )
    # the two folds rewrite DISJOINT tables (each with its own
    # pending-late marker protocol) — overlap their rewrite chains
    # (guide §2.6; r14 optimization)
    from formula1_data_pipeline_spark.concurrency import overlap

    overlap(spark, [
        ("bm25 compact: dfdelta",
         lambda: _overwrite_preserving_late(
             spark, dfd.select("*", tag), t[_DFDELTA],
             committed + [attempt], stats_cols=["term"])),
        ("bm25 compact: statsdelta",
         lambda: _overwrite_preserving_late(
             spark, stats.select("*", tag), t[_STATSDELTA],
             committed + [attempt])),
    ])


def acquire_compaction_lease(root_dir: str,
                             lease_sec: int = 3600) -> str | None:
    """Mutual exclusion for COMPACTORS of non-idempotent marts
    (round-12 ADVICE): two compactions snapshotting the same
    committed set each publish a fold of it, and whichever publishes
    second re-appends the first's fold through the late-preservation
    diff (the first's attempt is outside the second's snapshot) —
    readers then SUM two folds of the same data. Register-union (hll)
    survives that; sums (aggmart/gram/bm25 df) silently double. The
    race exists only between CONCURRENT snapshots — a crashed
    compactor's published fold carries a committed marker, so the
    next (serialized) compaction folds it like any other committed
    rows — so a lease serializing live compactors closes it outright.

    Returns a lease token (lock path + owner nonce) or ``None`` when
    another compactor holds a fresh lease — compaction is optional
    maintenance, so the caller just skips. The lock is one atomic
    ``os.mkdir`` under the mart root carrying a per-holder NONCE file
    (round-12 verdict: an anonymous rmdir lock let a slow-but-alive
    holder's release free a STEALER's lease, re-admitting the
    double-fold race); release and steal both verify the nonce, so a
    release after a steal is a no-op. A daemon heartbeat touches the
    lock's mtime every ``lease_sec/6`` while held, so a LIVE holder
    never looks stale however long its fold runs; a lease older than
    ``lease_sec`` is presumed crashed (heartbeat died with the
    process) and stolen. The steal itself retains a microsecond-scale
    two-stealer window (both need a crashed holder AND simultaneous
    steals landing between one another's unlink and mkdir);
    acceptable for a maintenance path whose worst case is the
    original race's frequency times that coincidence. Local-FS
    primitive; the object-store seam (sources/stores.py) replaces
    lock+nonce+heartbeat with a conditional-put lease object."""
    import os
    import time
    import uuid

    lock = os.path.join(root_dir, "_compact_lease")
    os.makedirs(root_dir, exist_ok=True)
    for _ in range(2):
        try:
            os.mkdir(lock)
        except FileExistsError:
            try:
                age = time.time() - os.stat(lock).st_mtime
            except FileNotFoundError:
                continue  # holder released between our two calls
            if age <= lease_sec:
                return None
            # stale: presumed crashed holder — remove its nonce file
            # then the dir (rmdir refuses non-empty), steal once
            try:
                for f in os.listdir(lock):
                    os.remove(os.path.join(lock, f))
                os.rmdir(lock)
            except OSError:
                return None
            continue
        nonce = uuid.uuid4().hex
        with open(os.path.join(lock, f"owner-{nonce}"), "w"):
            pass
        token = f"{lock}\n{nonce}"
        _start_lease_heartbeat(lock, token, max(lease_sec / 6.0, 1.0))
        return token
    return None


#: live heartbeat stop-events by token — in-process state only, which
#: is exactly the heartbeat's scope (the thread dies with the process,
#: and a dead process's lease is SUPPOSED to go stale)
_LEASE_HEARTBEATS: dict = {}


def _start_lease_heartbeat(lock: str, token: str,
                           interval_sec: float) -> None:
    import os
    import threading

    stop = threading.Event()

    def beat() -> None:
        while not stop.wait(interval_sec):
            try:
                os.utime(lock)
            except OSError:
                return  # released or stolen — stop beating
    t = threading.Thread(target=beat, daemon=True,
                         name=f"lease-heartbeat:{lock}")
    t.start()
    _LEASE_HEARTBEATS[token] = stop


def release_compaction_lease(token: str | None) -> None:
    """Release only a lease WE still own: the nonce file's presence
    is the ownership check — after a steal the stealer's lock dir
    carries a different nonce, so the evicted holder's release leaves
    it untouched (the round-12 verdict's release-after-steal hole)."""
    import os

    if token is None:
        return
    stop = _LEASE_HEARTBEATS.pop(token, None)
    if stop is not None:
        stop.set()
    lock, _, nonce = token.partition("\n")
    try:
        os.remove(os.path.join(lock, f"owner-{nonce}"))
    except OSError:
        return  # stolen as stale — the lock is someone else's now
    try:
        os.rmdir(lock)
    except OSError:
        pass  # raced a steal between unlink and rmdir — leave it


def _overwrite_preserving_late(spark, df: DataFrame, table: str,
                               known_attempts: list[str],
                               stats_cols: list[str] | None = None,
                               _pre_publish_hook=None) -> None:
    """``txn_overwrite`` that cannot drop a CONCURRENT append's rows
    (round-10 ADVICE): compaction snapshots the committed-attempt set,
    computes the folded rows, and overwrites — but an append whose
    delta rows land between the snapshot read and the overwrite's
    publish would be silently discarded (the overwrite's conflict
    retry republishes the staged fold, which was computed before the
    append existed), permanently corrupting df/stats while the skip
    marking keeps the lost docs from ever re-indexing.

    Preservation is UNCONDITIONAL (second round-11 review pass): the
    just-superseded version is always re-read (vacuum deferred — the
    overwrite runs with ``auto_vacuum=False`` and reclamation waits
    for the table's normal compaction cadence), and every row whose
    attempt is outside the snapshot ∪ {this compaction} is
    re-appended — in-flight appends (must survive) or crashed-attempt
    orphans. Orphans are indistinguishable from in-flight appends
    (the regression tests pin an append whose marker lands only
    AFTER the compaction), so they are carried forward rather than
    dropped: harmless to readers (committed-marker filter), storage
    bounded by crashed-attempt count x group rows — tiny and rare;
    an operator can reclaim them by filtering rows whose attempt has
    no marker once all writers are known quiesced. Two earlier
    drafts gated the re-append on
    version arithmetic (publish version vs a pre-staging read) and
    each left an ordering window: an append whose DATA landed before
    the version read but whose marker landed after the snapshot made
    the publish look non-concurrent (ver == v0 + 1) while the fold
    had excluded its rows — silent data loss. The unconditional diff
    has no ordering assumptions; its cost is one read of the
    superseded version per compaction (maintenance cadence)."""
    from formula1_data_pipeline_spark.sources.txn import (
        read_table,
        txn_append,
        txn_overwrite,
    )

    # Crash-window accounting (round-12 ADVICE, tightened round 13):
    # a crash between the overwrite's publish and the late append
    # below would otherwise drop a concurrent append's rows
    # PERMANENTLY (they exist only in the superseded version, which
    # the next compaction never reads). The pending-late marker makes
    # the window recoverable — and it is written BEFORE each publish
    # attempt (via the commit loop's pre-publish hook, which passes
    # the version that attempt would supersede), so there is NO
    # publish->marker loss window at all: a crash pre-publish leaves
    # a marker naming a still-live version, and recovery against it
    # is a no-op (every attempt in that version is in the live
    # table). The NEXT compaction of this table re-runs the diff from
    # the marker (idempotently — recovery skips attempts already
    # present). Readers between a crash and the healing compaction
    # see the superseded-only rows as missing — the recovery restores
    # them at maintenance cadence, not read time.
    def _marker_hook(superseded_v) -> None:
        if superseded_v is not None and superseded_v >= 1:
            _write_pending_late(table, superseded_v, known_attempts)
        if _pre_publish_hook is not None:
            _pre_publish_hook()

    ver = txn_overwrite(spark, df, table, stats_cols=stats_cols,
                        auto_vacuum=False,
                        pre_publish_hook=_marker_hook)
    if ver <= 1:
        _clear_pending_late(table)  # bootstrap: nothing preceded
        return
    prev = read_table(spark, table, version=ver - 1)
    late = prev.filter(~F.col("attempt").isin(known_attempts))
    late = late.persist()
    try:
        if late.limit(1).count():
            txn_append(spark, late, table, stats_cols=stats_cols)
    finally:
        late.unpersist()
    _clear_pending_late(table)


def _pending_late_path(table: str) -> str:
    import os

    return os.path.join(table, "_pending_late.json")


def _write_pending_late(table: str, superseded_version: int,
                        known_attempts: list[str]) -> None:
    """Local-FS primitive (write + atomic rename), like the
    compaction lease: the object-store seam (sources/stores.py)
    replaces both with conditional puts. Only ever written/cleared
    under the compaction lease, so there is exactly one writer."""
    import json
    import os

    os.makedirs(table, exist_ok=True)
    tmp = _pending_late_path(table) + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"superseded_version": superseded_version,
                   "known_attempts": known_attempts}, f)
    os.replace(tmp, _pending_late_path(table))


def _clear_pending_late(table: str) -> None:
    import os

    try:
        os.remove(_pending_late_path(table))
    except FileNotFoundError:
        pass


def recover_pending_late(spark, table: str,
                         stats_cols: list[str] | None = None) -> None:
    """Heal a compaction that crashed between its overwrite's publish
    and its late-preservation append (the marker is still on disk):
    re-run the late diff against the RECORDED superseded version.
    Idempotent — an attempt already present in the live table was
    either preserved before the crash or re-appended by an earlier
    recovery, so only still-missing attempts are restored.

    MUST run at the start of the next compaction, BEFORE it snapshots
    the committed set (every ``*_compact_locked`` body does): the
    crashed-away rows' attempts carry committed markers, so a fold
    snapshotted before recovery would list them as known while its
    data excludes them — the overwrite would drop them a second time,
    unrecoverably (this ordering was the first draft's bug)."""
    import json

    from formula1_data_pipeline_spark.sources.txn import (
        current_version,
        read_table,
        txn_append,
    )

    try:
        with open(_pending_late_path(table)) as f:
            pend = json.load(f)
    except FileNotFoundError:
        return
    # A marker naming the STILL-LIVE version is pre-publish: the
    # writer crashed before (or has not yet reached) its publish, so
    # every attempt it names is in the live table and there is
    # nothing to restore. Leave the marker in place (round-13 ADVICE,
    # the medium item): clearing it here would race a LIVE compactor
    # that just wrote its pre-publish marker — it publishes next, and
    # a crash between that publish and its late append would then be
    # unrecoverable. A genuinely crashed pre-publish marker is
    # harmless to leave; the next compaction overwrites it with its
    # own.
    if current_version(spark, table) == pend["superseded_version"]:
        return
    prev = read_table(spark, table,
                      version=pend["superseded_version"])
    known = pend["known_attempts"]
    late = prev.filter(~F.col("attempt").isin(known))
    live_attempts = [
        r["attempt"]
        for r in read_table(spark, table)
        .filter(~F.col("attempt").isin(known))
        .select("attempt").distinct().collect()
    ]  # bounded: attempts, not rows
    missing = late.filter(~F.col("attempt").isin(live_attempts or ["-"]))
    missing = missing.persist()
    try:
        if missing.limit(1).count():
            txn_append(spark, missing, table, stats_cols=stats_cols)
    finally:
        missing.unpersist()
    _clear_pending_late(table)


def bm25_index_topk(
    spark,
    index_dir: str,
    queries_df: DataFrame,
    k: int = 10,
    qid_col: str = "query_id",
    qtext_col: str = "query_text",
) -> DataFrame:
    """Top-``k`` documents per query from the MAINTAINED index —
    row-for-row identical to :func:`bm25_topk` over the full landed
    corpus (same shared ``_rank_candidates`` math; equivalence is
    gate-tested), at index cost: the driver-known query terms become
    an IN-list predicate pushed into the postings/dfdelta parquet
    scans (+ per-segment term-range manifest pruning), so only the
    probed terms' rows move; df is the per-term sum of the delta log;
    corpus stats are the 1-row delta sum, broadcast."""
    from formula1_data_pipeline_spark.sources.txn import read_table

    t = _index_tables(index_dir)
    qrows = queries_df.select(
        F.col(qid_col).alias("query_id"),
        F.array_distinct(tokens(F.col(qtext_col))).alias("terms"),
    ).collect()  # tiny by contract (audit probes) — the literal
    # IN-list below is what turns the postings scan into a pruned
    # point lookup; a join could not push the terms into the scan
    qterms_local = sorted({t_ for r in qrows for t_ in r["terms"]})
    # the qid type is the CALLER's (bm25_topk preserves it too) — a
    # hardcoded `query_id string` made an integer-id frame raise in
    # createDataFrame and gave the empty result a diverging schema
    # (round-10 ADVICE)
    qid_type = dict(queries_df.dtypes)[qid_col]
    if not qterms_local:
        return local_frame(
            spark, [], f"query_id {qid_type}, doc_id long, "
            "n_terms_matched long, score double, rank int")
    qterms = local_frame(
        spark, [(r["query_id"], t_) for r in qrows for t_ in r["terms"]],
        f"query_id {qid_type}, term string",
    )
    hit = F.col("term").isin(qterms_local)
    prune = {"term": (min(qterms_local), max(qterms_local))}

    committed = _committed_attempts(spark, index_dir)
    tf = _committed_only(
        read_table(spark, t[_POSTINGS], prune=prune).filter(hit),
        committed,
    )
    dfreq = (
        _committed_only(
            read_table(spark, t[_DFDELTA], prune=prune).filter(hit),
            committed,
        )
        .groupBy("term").agg(F.sum("df_delta").cast("long").alias("df"))
    )
    dl = _committed_only(read_table(spark, t[_DOCLEN]), committed)
    stats = _committed_only(
        read_table(spark, t[_STATSDELTA]), committed
    ).agg(
        F.sum("n_docs_delta").cast("long").alias("n_docs"),
        F.sum("n_tokens_delta").cast("long").alias("n_tokens"),
    )
    cand = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    return _rank_candidates(cand, k)
