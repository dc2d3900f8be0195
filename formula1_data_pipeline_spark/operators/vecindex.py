"""Persisted incremental IVF-flat vector index — the ANN twin of the
incremental BM25 index (``operators/retrieval.py``).

``similarity.ivf_flat_topk`` quantizes the corpus per query batch; a
production embedding store is APPENDED to continuously and probed far
more often than it changes, so the inverted lists must be LANDED
state, not a per-query computation. The index is two manifest-txn
tables under one directory (the q83/q87/bm25-index ingestion
discipline — landed state read-only, atomic commits, landed ids
skipped):

  centroids/  (cluster, cnorm, d, coef)   the frozen quantizer —
              Lloyd-trained at build time (``train_ivf_centroids``)
              or any offline k-means table
  lists/      (cluster, id, vec, nrm)     the inverted lists,
              PARTITIONED BY cluster (txn key) so a probe's
              ``cluster IN (...)`` filter prunes at the FILE level —
              a query reads ~n_probe/n_centroids of the landed bytes

Append policy (the FAISS/production convention): new vectors are
assigned to the FROZEN quantizer — appending never retrains, so the
index stays queryable and deterministic through ingestion; quantizer
refresh is an explicit offline ``ivf_index_build`` rebuild (monitor
assignment drift with ``operators/quality.drift_report`` over the
cluster column to know when). Because assignment given fixed
centroids is deterministic, build-then-append equals one-shot
indexing of the union — property-tested.

Determinism: trained centroids are float-path (partial-sum order) —
the q92 rule applies: gate index QUALITY with recall bounds, never
value-hash trained floats; gate index MECHANICS (append/skip/prune/
query given fixed centroids) with exact Spark-vs-Spark equivalence,
which is what the draft gates do.

Pre-staged round 10; lands via a due ANN re-gate (q26/q34/q92) per
the CHANGELOG landing-plan rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.operators.similarity import (
    _as_double,
    _ivf_assign,
    cosine_from_norms,
    norm,
    rank_topk,
    train_ivf_centroids,
)
from formula1_data_pipeline_spark.session import local_frame

_CENTROIDS, _LISTS, _META = "centroids", "lists", "meta"
_IDBLOOM = "idbloom"

#: landed-id Bloom sidecar sizing (round-12 verdict item #2): by
#: default ivf_index_build AUTO-SIZES the filter to the next power of
#: two >= 16x the built corpus's id count (>= the floor, <= the
#: broadcast ceiling), ~2 bits/id of folded word state. At k=4
#: probes that is a ~0.2% false-positive rate; fp hits are CHEAP
#: because verification is cluster-targeted (a hit id's landed rows
#: live exactly in the clusters its vector assigns to under the
#: frozen quantizer — the read is hit-proportional, never
#: index-shaped), so the sizing is chosen to minimize the dominant
#: per-append cost: the word-table merge read, bounded at n_bits/63
#: rows (~n_ids/4) once the fold below has run. The round-12 probe
#: sequence measured all of this: phases flat vs 12x index, the one
#: growing term was (a) an undersized filter's mass fp hits paying a
#: full landed read — fixed by auto-sizing — and then (b) the
#: whole-domain id-range verify read under random ids — fixed by the
#: cluster-targeted verify. The bits are recorded per row, so
#: appends follow the landed sizing automatically; an UNDERSIZED
#: filter degrades gracefully (hits all go to exact verification —
#: correct, just slower), and growth far past the built size
#: warrants an offline rebuild, which re-sizes. The CEILING (2^30
#: bits = ~17 MiB of words) is the broadcast-budget seam: past ~10^8
#: landed ids the right structure is a resident merged filter (the
#: streaming-maintainer shape) or a hash-bucketed landed-ids table
#: with per-bucket point reads — documented, not built (the repo's
#: object-store seam discipline).
BLOOM_BITS_MIN = 1 << 20
BLOOM_BITS_MAX = 1 << 30


def _auto_bloom_bits(n_ids: int) -> int:
    bits = BLOOM_BITS_MIN
    while bits < 16 * max(n_ids, 1) and bits < BLOOM_BITS_MAX:
        bits <<= 1
    return bits


#: collect-and-IN-list threshold for exact verification of Bloom
#: hits — above this, fall back to the range-pruned anti-join
_HITS_INLIST_MAX = 10_000


def _tables(index_dir: str) -> dict[str, str]:
    return {n: f"{index_dir}/{n}"
            for n in (_CENTROIDS, _LISTS, _META, _IDBLOOM)}


def _id_hash(col):
    """The repo's standard 60-bit md5 hash of an id (dedup.py
    discipline) — what the landed-id Bloom words are built from."""
    return (F.conv(F.substring(F.md5(col.cast("string")), 1, 15),
                   16, 10).cast("long"))


_INTEGRAL_TYPES = frozenset({"tinyint", "smallint", "int", "bigint"})


def _require_integral_id(df: DataFrame, id_col: str,
                         where: str) -> None:
    """Loud id-type contract (round-12 ADVICE): the landed-id skip
    and manifest range pruning compare ids AS BIGINT — a genuinely
    non-numeric string id would cast to NULL, the anti-join would
    silently match nothing, and a re-delivered batch would
    DOUBLE-INSERT (the skip degrading to wrong rather than slow).
    "Random/UUID-style id support" means random VALUES in an integral
    column (the probe's md5-scrambled longs); map string/UUID ids to
    a stable 63-bit integer first, e.g.
    ``conv(substr(md5(id), 1, 15), 16, 10)::bigint``."""
    dtype = dict(df.dtypes).get(id_col)
    if dtype not in _INTEGRAL_TYPES:
        raise TypeError(
            f"{where}: id column {id_col!r} has type {dtype!r}, but "
            "the index's landed-id skip requires an integral id "
            "(tinyint/smallint/int/bigint) — a non-castable id would "
            "silently disable re-delivery skipping and double-insert. "
            "Hash string/UUID ids to bigint first "
            "(conv(substr(md5(id),1,15),16,10))")


def _bloom_words(ids: DataFrame, n_bits: int,
                 attempt: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.bloom import bloom_build

    return bloom_build(
        ids.select(_id_hash(F.col("id")).alias("h")), "h",
        n_bits=n_bits,
    ).select(
        "word_idx", "bits", F.lit(n_bits).alias("n_bits"),
        F.lit(attempt).alias("attempt"),
    )


def _append_id_bloom(spark, ids: DataFrame, table: str,
                     n_bits: int) -> None:
    """Append the batch ids' sparse Bloom words (word_idx, bits,
    n_bits, attempt). Readers bit_or-fold by word_idx; the fold
    below keeps the table bounded at ~n_bits/63 rows however many
    batches land."""
    import uuid

    from formula1_data_pipeline_spark.sources.txn import txn_append

    txn_append(
        spark, _bloom_words(ids, n_bits, uuid.uuid4().hex[:16]),
        table)


#: fold the sidecar once its manifest accumulates this many segments
#: — keeps the per-append merge read bounded at ~n_bits/63 rows (the
#: txn auto-compact discipline applied to the word table)
_IDBLOOM_FOLD_SEGMENTS = 8


def _maybe_fold_id_bloom(spark, index_dir: str, table: str,
                         n_bits: int) -> None:
    """Opportunistic sidecar fold, serialized by the compaction
    lease (skip if contended — it's maintenance): bit_or all landed
    words to one row per word_idx via the late-preserving overwrite,
    so a CONCURRENT append's words (attempt outside the snapshot)
    are re-appended, never dropped — dropping them would un-record
    landed ids and double-insert on re-delivery; re-appending is
    harmless (bit_or is idempotent)."""
    import uuid

    from formula1_data_pipeline_spark.operators.retrieval import (
        _overwrite_preserving_late,
        acquire_compaction_lease,
        recover_pending_late,
        release_compaction_lease,
    )
    from formula1_data_pipeline_spark.sources.txn import (
        _read_manifest,
        current_version,
        read_table,
    )

    ver = current_version(spark, table)
    if ver is None:
        return
    segs = _read_manifest(spark, table, ver)["segments"]
    if len(segs) <= _IDBLOOM_FOLD_SEGMENTS:
        return
    lease = acquire_compaction_lease(table)
    if lease is None:
        return
    try:
        recover_pending_late(spark, table)
        snap = read_table(spark, table)
        known = [r["attempt"] for r in
                 snap.select("attempt").distinct().collect()]
        attempt = "bloomfold-" + uuid.uuid4().hex[:16]
        folded = (
            snap.groupBy("word_idx")
            .agg(F.bit_or("bits").alias("bits"),
                 F.first("n_bits").alias("n_bits"))
            .select("word_idx", "bits", "n_bits",
                    F.lit(attempt).alias("attempt"))
        )
        _overwrite_preserving_late(
            spark, folded, table, known + [attempt])
    finally:
        release_compaction_lease(lease)


def _landed_id_bloom(spark, table: str):
    """(merged word frame, n_bits) from the landed sidecar, or
    (None, None) for a legacy index built before the sidecar.

    Heals a crashed fold FIRST (round-12 ADVICE, the medium item): if
    a prior ``_maybe_fold_id_bloom`` crashed between its overwrite's
    publish and its late-preservation append, a concurrent append's
    words exist only in the superseded version while its list rows
    are landed — reading the sidecar as-is would produce a false
    NEGATIVE (a landed id missing from the bloom), and the append
    contract ("a miss is definitely new") would double-insert on
    re-delivery. The pending-late marker is a cheap file-existence
    test. The heal runs UNDER the compaction lease (round-13 ADVICE:
    a lease-less heal's marker CLEAR raced a live fold's pre-publish
    marker — the fold publishes next, and a crash before its late
    append was then unrecoverable; the bit_or-idempotence argument
    covered re-appends, not the clear). Contended lease → skip the
    heal and read as-is: the live holder either completes its own
    late append or re-crashes leaving the marker for the next
    healer, and ``recover_pending_late`` itself now refuses to clear
    a still-live-version marker as the second line of defense."""
    import os

    from formula1_data_pipeline_spark.operators.retrieval import (
        _pending_late_path,
        acquire_compaction_lease,
        recover_pending_late,
        release_compaction_lease,
    )
    from formula1_data_pipeline_spark.sources.txn import (
        is_txn_table,
        read_table,
    )

    if not is_txn_table(spark, table):
        return None, None
    if os.path.exists(_pending_late_path(table)):
        lease = acquire_compaction_lease(table)
        if lease is not None:
            try:
                recover_pending_late(spark, table)
            finally:
                release_compaction_lease(lease)
    words = read_table(spark, table)
    first = words.select("n_bits").first()
    if first is None:
        return None, None
    merged = (words.groupBy("word_idx")
              .agg(F.bit_or("bits").alias("bits")))
    return merged, int(first["n_bits"])


def _quantizer_id(coefs: DataFrame) -> str:
    """Content hash of a quantizer table — driver-side over the tiny
    (n_centroids x dim) frame, float.hex so equal stored doubles hash
    equal."""
    import hashlib

    rows = sorted(
        (int(r["cluster"]), int(r["d"]),
         float(r["coef"]).hex(), float(r["cnorm"]).hex())
        for r in coefs.select("cluster", "d", "coef", "cnorm").collect()
    )
    return hashlib.md5(repr(rows).encode()).hexdigest()[:16]


def _check_consistent(spark, index_dir: str) -> None:
    """Refuse to read an index whose centroids and lists come from
    different builds. ``ivf_index_build`` lands centroids -> lists ->
    meta (meta LAST, carrying the quantizer's content hash), so a
    crash between any two commits leaves meta absent or stale and
    every subsequent read fails LOUDLY here — instead of silently
    probing lists partitioned under one quantizer with cluster ids
    assigned under another (round-10 review finding)."""
    from formula1_data_pipeline_spark.sources.txn import read_table

    t = _tables(index_dir)
    try:
        meta_id = read_table(spark, t[_META]).collect()[0]["quantizer_id"]
    except Exception as e:  # noqa: BLE001 — any read failure = no marker
        raise RuntimeError(
            f"IVF index at {index_dir} has no readable build marker — "
            "an interrupted ivf_index_build left a partial index; "
            "re-run ivf_index_build"
        ) from e
    landed_id = _quantizer_id(_read_centroids(spark, index_dir))
    if meta_id != landed_id:
        raise RuntimeError(
            f"IVF index at {index_dir} is inconsistent: centroids are "
            f"from build {landed_id} but lists were committed under "
            f"build {meta_id} — an interrupted rebuild; re-run "
            "ivf_index_build"
        )


def _assign_rows(emb: DataFrame, coefs: DataFrame, n_assign: int,
                 id_col: str, vec_col: str) -> DataFrame:
    """(cluster, id, vec, nrm) inverted-list rows for ``emb`` under
    the given quantizer — one explode + broadcast-centroid join +
    per-(id, cluster) SUM, the `_ivf_assign` shape."""
    base = emb.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("vec")
    ).withColumn("nrm", norm(F.col("vec")))
    # _ivf_assign's empty prefix emits (id, vec, norm, cluster)
    return _ivf_assign(base, coefs, n_assign, "").select(
        "cluster", F.col("id"), F.col("vec"),
        F.col("norm").alias("nrm"),
    )


def ivf_index_build(
    spark,
    emb: DataFrame,
    index_dir: str,
    n_centroids: int = 16,
    n_iter: int = 5,
    n_assign: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_coefs: DataFrame | None = None,
    bloom_bits: int | None = None,
) -> None:
    """Train (or accept) the quantizer and land the full index
    atomically: centroids via txn_overwrite, inverted lists via
    txn_overwrite partitioned by cluster. A rebuild supersedes
    everything (auto_vacuum reclaims the old generation)."""
    from formula1_data_pipeline_spark.sources.txn import txn_overwrite

    _require_integral_id(emb, id_col, "ivf_index_build")
    t = _tables(index_dir)
    coefs = (
        centroid_coefs if centroid_coefs is not None
        else train_ivf_centroids(emb, n_centroids, n_iter,
                                 id_col, vec_col)
    )
    # the quantizer table is tiny (n_centroids x dim rows) but must be
    # exactly reusable — land it before deriving anything from it,
    # then read the LANDED copy so build and later appends assign
    # against byte-identical coefficients
    txn_overwrite(spark, coefs, t[_CENTROIDS], auto_vacuum=True)
    landed = _read_centroids(spark, index_dir)
    rows = _assign_rows(emb.filter(F.col(id_col).isNotNull()), landed,
                        n_assign, id_col, vec_col)
    # id stats in the manifest let appends prune the landed-id skip
    # to segments whose [min, max] id range can intersect the batch —
    # without them the skip's anti-join scans every landed segment,
    # so append cost grows with INDEX size instead of batch size
    # (round-10 verdict finding)
    # NOTE (r14 optimization round, measured-and-rejected twice): the
    # assignment pass below is recomputed by the lists write, the
    # bloom auto-size count, and the bloom words write. Two attempts
    # to SHARE it were both SLOWER than recompute-from-scan: (a)
    # persist + concurrent lists/bloom commits — the threads raced to
    # materialize the uncached InMemoryRelation, each computing every
    # partition; (b) persist + sequential commits — columnar-caching
    # the array<double>-carrying rows costs more than recomputing the
    # pass (micro-benchmarked 4.8-12.8 s vs 3.7-5.1 s per build at
    # sf0.1), and at corpus scale an in-memory cache of 3x corpus
    # vector rows is infeasible anyway, so recompute-from-scan is
    # also the scale-sane shape.
    #
    # r15: keep recompute-from-scan but OVERLAP the two independent
    # legs (lists overwrite ∥ bloom count+overwrite) from driver
    # threads — no shared persisted frame, so the r14 (a) race does
    # not exist; each leg recomputes from the scan as before and the
    # concurrent jobs back-fill each other (guide §2.6). Crash
    # safety is unchanged: BUILD ordering needs only meta-LAST (the
    # meta seal below refuses the index until quantizer hash matches,
    # so any crash with lists and/or bloom partially landed is a loud
    # partial-build error — unlike APPEND, whose bloom-before-lists
    # invariant this does not touch).
    import uuid

    from formula1_data_pipeline_spark.concurrency import overlap

    def land_lists():
        txn_overwrite(spark, rows, t[_LISTS], key="cluster",
                      auto_vacuum=True, stats_cols=["id"])

    # landed-id Bloom sidecar (round-12 verdict item #2): the
    # unconditional append-cost bound under NON-monotonic ids. One
    # bit_or-mergeable word table; appends probe it broadcast-side so
    # a fresh batch never reads the landed lists at all. A rebuild
    # replaces it wholesale; meta-last consistency (below) keeps any
    # crash in this sequence a loud build error.
    def land_bloom():
        built_ids = rows.select("id").distinct()
        bits = bloom_bits
        if bits is None:  # auto-size: one count on the offline path
            bits = _auto_bloom_bits(built_ids.count())
        words = _bloom_words(built_ids, bits,
                             "build-" + uuid.uuid4().hex[:16])
        txn_overwrite(spark, words, t[_IDBLOOM], auto_vacuum=True)

    overlap(spark, [("ivf build: lists", land_lists),
                    ("ivf build: id bloom", land_bloom)])
    # meta LAST: the build marker carries the landed quantizer's
    # content hash, and readers (_check_consistent) refuse the index
    # until it matches — so a crash between the three commits is a
    # loud partial-build error, never a silent old-lists/new-quantizer
    # mismatch
    meta = local_frame(
        spark, [(_quantizer_id(landed),)], "quantizer_id string"
    )
    txn_overwrite(spark, meta, t[_META], auto_vacuum=True)


def _read_centroids(spark, index_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.sources.txn import read_table

    return read_table(spark, _tables(index_dir)[_CENTROIDS]).select(
        F.col("cluster").cast("int").alias("cluster"),
        "cnorm", "d", "coef",
    )


def ivf_index_append(
    spark,
    emb: DataFrame,
    index_dir: str,
    n_assign: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Fold new vectors into the landed index against the FROZEN
    quantizer; returns the number of NEW vectors indexed
    (re-delivered batches are idempotent — the S8 discipline).

    Landed-id skip, two tiers (round-12 verdict item #2 — the
    UNCONDITIONAL append-cost bound):

    1. Bloom prefilter: batch ids probe the bit_or-merged landed-id
       Bloom sidecar (a bounded broadcast — n_bits/63 words however
       many batches have landed). A MISS is definitely new: under
       any id distribution — monotonic, random-UUID, adversarial —
       a fresh batch skips the landed lists entirely, so append cost
       tracks the BATCH, not the index.
    2. Exact verification of the HITS only (re-deliveries + the
       bounded deterministic false-positive stream): one
       column-pruned anti-join whose landed side is MANIFEST-PRUNED
       to the hits' id range — under monotonic ingestion ids that
       still reads ~1 segment; under random ids the hits themselves
       are few, so the verify pass is hit-shaped.

    Both tiers are fail-open (a legacy index without the sidecar
    falls back to the batch-range-pruned anti-join; stats-less
    segments are scanned), so correctness never depends on either.
    Ordering makes the sidecar safe under crashes: the bloom words
    append BEFORE the list rows, so a crash can only leave ids in
    the bloom that are not landed — extra false positives the exact
    verify resolves, never a missed landed id (which would
    double-insert). The append commits atomically and touches only
    the new rows' cluster partitions."""
    from formula1_data_pipeline_spark.operators.bloom import (
        bloom_contains,
    )
    from formula1_data_pipeline_spark.sources.txn import (
        read_table,
        txn_append,
    )

    _require_integral_id(emb, id_col, "ivf_index_append")
    t = _tables(index_dir)
    _check_consistent(spark, index_dir)
    new = emb.filter(F.col(id_col).isNotNull())
    merged, n_bits = _landed_id_bloom(spark, t[_IDBLOOM])
    hits = None
    if merged is not None:
        ids = new.select(F.col(id_col)).distinct().withColumn(
            "h", _id_hash(F.col(id_col)))
        hits = bloom_contains(ids, merged, "h", n_bits=n_bits) \
            .select(id_col).persist()
        n_hits = hits.count()
        if n_hits and n_hits <= _HITS_INLIST_MAX:
            # few hits (the fp stream of a fresh random-id batch):
            # a hit id's landed rows live EXACTLY in the clusters its
            # vector assigns to under the frozen quantizer, so the
            # verification reads only those cluster partitions plus
            # an id IN-list — hit-proportional, never index-shaped.
            # (A range prune over a handful of RANDOM ids would span
            # the whole domain and read every segment — the first
            # r12 probe run's finding.) Contract: a re-delivery
            # carries the SAME vector and the same n_assign as the
            # landed rows (the S8 idempotence premise — a changed
            # vector is an update, which this index expresses as
            # rebuild, not append).
            hit_ids = [r[id_col] for r in hits.collect()]
            hit_rows = _assign_rows(
                new.filter(F.col(id_col).isin(hit_ids)),
                _read_centroids(spark, index_dir),
                n_assign, id_col, vec_col,
            )
            clusters = [r["cluster"] for r in
                        hit_rows.select("cluster").distinct()
                        .collect()]
            landed_ids = (
                read_table(spark, t[_LISTS])
                .filter(F.col("cluster").cast("int")
                        .isin(clusters or [-1]))
                .filter(F.col("id").isin(hit_ids))
                .select(F.col("id").cast("long").alias(id_col))
                .distinct()
            )
            new = new.join(landed_ids, id_col, "left_anti")
        elif n_hits:
            # bulk hits (a re-delivered batch): id-range prune over
            # the hits — re-deliveries are id-local, so this reads
            # the original batch's segments
            hb = hits.agg(
                F.min(F.col(id_col).cast("long")).alias("lo"),
                F.max(F.col(id_col).cast("long")).alias("hi"),
            ).collect()[0]
            landed_ids = read_table(
                spark, t[_LISTS], prune={"id": (hb["lo"], hb["hi"])}
            ).select(F.col("id").cast("long").alias(id_col)) \
                .distinct()
            confirmed = hits.join(landed_ids, id_col, "left_semi")
            new = new.join(confirmed, id_col, "left_anti")
    else:  # legacy index (no sidecar): batch-range-pruned anti-join
        bounds = new.agg(
            F.min(F.col(id_col).cast("long")).alias("lo"),
            F.max(F.col(id_col).cast("long")).alias("hi"),
        ).collect()[0]
        if bounds["lo"] is None:
            return 0  # empty batch — nothing to skip or index
        landed_ids = read_table(
            spark, t[_LISTS], prune={"id": (bounds["lo"], bounds["hi"])}
        ).select(F.col("id").cast("long").alias(id_col)).distinct()
        new = new.join(landed_ids, id_col, "left_anti")
    rows = _assign_rows(new, _read_centroids(spark, index_dir),
                        n_assign, id_col, vec_col).persist()
    try:
        n = rows.select("id").distinct().count()
        if n:
            if merged is not None:
                # bloom BEFORE lists (see ordering note above)
                _append_id_bloom(
                    spark, rows.select("id").distinct(),
                    t[_IDBLOOM], n_bits)
            txn_append(spark, rows, t[_LISTS], key="cluster",
                       stats_cols=["id"])
        if merged is not None:
            # opportunistic sidecar fold (lease-guarded, skips when
            # contended): keeps the per-append merge read bounded at
            # ~n_bits/63 rows instead of growing with commit count
            _maybe_fold_id_bloom(spark, index_dir, t[_IDBLOOM],
                                 n_bits)
        return n
    finally:
        rows.unpersist()
        if hits is not None:
            hits.unpersist()


def ivf_index_topk(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-``k`` per query from the LANDED index: assign each query
    to its ``n_probe`` closest cells under the landed quantizer, read
    ONLY those cells' list files (the cluster partition filter prunes
    at file level — the txn layer lands one directory per cluster
    key), exact 6-dp cosine within. Output schema matches
    ``similarity.cosine_topk`` / ``ivf_flat_topk``; given the same
    centroids the ranking is row-identical to ``ivf_flat_topk``
    (gate-tested), at index cost: no corpus assignment pass, no
    quantizer work, bytes read ~ n_probe/n_centroids of the lists."""
    from formula1_data_pipeline_spark.sources.txn import read_table

    _check_consistent(spark, index_dir)
    coefs = _read_centroids(spark, index_dir)
    base_q = queries.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("vec")
    ).withColumn("nrm", norm(F.col("vec")))
    q = _ivf_assign(base_q, coefs, n_probe, "q_")
    probed = [r["cluster"]
              for r in q.select("cluster").distinct().collect()]
    lists = read_table(spark, _tables(index_dir)[_LISTS])
    lists = lists.filter(
        F.col("cluster").cast("int").isin(probed or [-1])
    ).select(
        F.col("cluster").cast("int").alias("cluster"),
        F.col("id").cast("long").alias("n_id"),
        F.col("vec").alias("n_vec"),
        F.col("nrm").alias("n_norm"),
    )
    scored = (
        lists.join(F.broadcast(q), "cluster")
        .filter(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id", "n_id",
            F.round(
                cosine_from_norms(F.col("q_vec"), F.col("n_vec"),
                                  F.col("q_norm"), F.col("n_norm")), 6)
            .alias("cos_sim"),
        )
        .distinct()  # multi-assigned rows can meet a query twice
    )
    return rank_topk(scored, k, "cos_sim")

