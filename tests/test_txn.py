"""Manifest commit protocol (sources/txn.py) — transactional guarantees.

The round-3 verdict's top item: the staged-write + directory-rename
swap was atomic on POSIX/HDFS but not on object stores. The manifest
protocol's claim is stronger and store-agnostic: a reader NEVER
observes a half-published table, because data files are immutable and
a version becomes visible only via one atomic put-if-absent of a
single manifest object. These tests prove that claim by interleaving
readers at every intermediate state of a commit — which is exactly
what "rename is not atomic" degrades to on an object store (data
visible, table state undefined).
"""

from __future__ import annotations

import json
import threading

import pytest
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.sources.sinks import merge_upsert
from formula1_data_pipeline_spark.sources.txn import (
    _manifest_path,
    _publish,
    _put_if_absent,
    _stage,
    current_version,
    read_table,
    txn_append,
    txn_merge,
    txn_replace,
    vacuum,
)


def _df(spark, rows, cols):
    return spark.createDataFrame(rows, cols)


def _snapshot(spark, path):
    return sorted(
        tuple(r) for r in read_table(spark, path).na.fill("").collect()
    )


# ------------------------------------------------- atomic visibility --


def test_reader_never_sees_half_published_commit(spark, tmp_path):
    """Interleave a reader at every intermediate state of a commit:
    it must see exactly version N until the manifest for N+1 exists,
    then exactly version N+1 — data files staged but unpublished are
    invisible. This is the object-store scenario where a directory
    rename would have exposed a mix."""
    path = str(tmp_path / "t")
    v1_rows = [("a", "1"), ("b", "2")]
    txn_merge(spark, path, lambda _: _df(spark, v1_rows, ["k", "v"]))
    v1_snapshot = _snapshot(spark, path)
    assert v1_snapshot == sorted(v1_rows)

    # --- commit v2 by hand, pausing between data-write and publish ---
    _, segments = _stage(spark, _df(spark, [("a", "9")], ["k", "v"]),
                         path, None)
    # data fully written, manifest NOT published: reader still sees v1
    assert current_version(spark, path) == 1
    assert _snapshot(spark, path) == v1_snapshot

    assert _publish(spark, path, 2, segments, None)
    # manifest published: reader sees exactly v2, not a mix
    assert current_version(spark, path) == 2
    assert _snapshot(spark, path) == [("a", "9")]
    # and the old version stays readable as a pinned snapshot
    assert sorted(
        tuple(r) for r in read_table(spark, path, version=1).collect()
    ) == sorted(v1_rows)


def test_put_if_absent_is_all_or_nothing(spark, tmp_path):
    """The manifest object appears with its full content or not at
    all (os.link publishes a completely-written inode), and a second
    publish of the same version loses cleanly."""
    final = str(tmp_path / "m.json")
    assert _put_if_absent(spark, final, b'{"v": 1}')
    assert not _put_if_absent(spark, final, b'{"v": "loser"}')
    with open(final, "rb") as fh:
        assert json.loads(fh.read()) == {"v": 1}
    # no temp debris
    assert sorted(p.name for p in tmp_path.iterdir()) == ["m.json"]


def test_crashed_commit_leaves_readers_untouched(spark, tmp_path):
    """A writer that dies after staging data but before publishing
    (the mid-'rename' crash) leaves the table bit-identical for
    readers; the orphaned dir is reclaimed by vacuum only after it is
    provably unreferenced."""
    path = str(tmp_path / "t")
    txn_merge(spark, path, lambda _: _df(spark, [("a", "1")], ["k", "v"]))
    before = _snapshot(spark, path)
    # simulated crash: staged data, no manifest
    _stage(spark, _df(spark, [("x", "666")], ["k", "v"]), path, None)
    assert _snapshot(spark, path) == before
    assert current_version(spark, path) == 1
    removed = vacuum(spark, path, keep_versions=1, min_age_sec=0)
    assert removed == 1  # exactly the orphan
    assert _snapshot(spark, path) == before


# ------------------------------------------- optimistic concurrency --


def test_concurrent_merge_no_lost_update(spark, tmp_path):
    """Two merges race: the loser's publish must fail (version taken)
    and its retry must re-merge against the WINNER's snapshot — both
    updates survive. Deterministic interleaving via the pre-publish
    test seam."""
    path = str(tmp_path / "t")
    txn_merge(spark, path, lambda _: _df(
        spark, [("a", "1"), ("b", "1")], ["k", "v"]))

    fired = []

    def competing_commit_once():
        if fired:
            return
        fired.append(True)
        # sneaks in between the slow merge's read and publish
        txn_merge(
            spark, path,
            lambda ex: ex.withColumn(
                "v", F.when(F.col("k") == "a", "A").otherwise(F.col("v"))
            ),
        )

    def slow_merge(existing):
        return existing.withColumn(
            "v", F.when(F.col("k") == "b", "B").otherwise(F.col("v"))
        )

    txn_merge(spark, path, slow_merge,
              pre_publish_hook=competing_commit_once)
    # both the competing 'a'->'A' and the retried 'b'->'B' survived
    assert _snapshot(spark, path) == [("a", "A"), ("b", "B")]
    assert current_version(spark, path) == 3
    # the loser's orphaned first staging attempt was cleaned up:
    # exactly 3 live data dirs remain after a full vacuum
    vacuum(spark, path, keep_versions=3, min_age_sec=0)
    dirs = [p.name for p in (tmp_path / "t").iterdir()
            if p.name.startswith("d-")]
    assert len(dirs) == 3


def test_concurrent_replace_disjoint_partitions_both_survive(
        spark, tmp_path):
    """Two replaces of DISJOINT partitions race: the loser retries and
    re-bases onto the winner's manifest — neither partition refresh is
    lost (the dynamic-overwrite equivalent could drop one on object
    stores)."""
    path = str(tmp_path / "t")
    txn_replace(
        spark,
        _df(spark, [("s1", "old1"), ("s2", "old2")], ["sess", "v"]),
        path, key="sess",
    )

    fired = []

    def competing_replace_once():
        if fired:
            return
        fired.append(True)
        txn_replace(spark, _df(spark, [("s2", "NEW2")], ["sess", "v"]),
                    path, key="sess")

    txn_replace(spark, _df(spark, [("s1", "NEW1")], ["sess", "v"]),
                path, key="sess", pre_publish_hook=competing_replace_once)
    assert _snapshot(spark, path) == [("NEW1", "s1"), ("NEW2", "s2")] or \
        _snapshot(spark, path) == [("s1", "NEW1"), ("s2", "NEW2")]


def test_threaded_appends_all_land(spark, tmp_path):
    """Real (non-seam) concurrency: N threads append concurrently;
    put-if-absent serializes the commits and every batch lands."""
    path = str(tmp_path / "t")
    n = 4

    def work(i):
        txn_append(spark, _df(spark, [(f"k{i}", str(i))], ["k", "v"]), path)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert current_version(spark, path) == n
    got = {r["k"] for r in read_table(spark, path).collect()}
    assert got == {f"k{i}" for i in range(n)}


def test_failed_commit_leaves_no_staged_dir(spark, tmp_path, monkeypatch):
    """A commit that raises must not leak its staged data dir — before
    the single commit loop owned staged dirs, a key mismatch or a
    commit that lost every optimistic race left a full copy of the
    batch in an orphan d-* dir until a vacuum an hour later."""
    from formula1_data_pipeline_spark.sources import txn as txn_mod

    path = str(tmp_path / "t")
    txn_append(spark, _df(spark, [("a", "1")], ["part", "v"]), path,
               key="part")

    def dirs():
        return sorted(p.name for p in (tmp_path / "t").iterdir()
                      if p.name.startswith("d-"))

    before = dirs()
    # (a) key mismatch: the table is keyed by 'part', the append is not
    with pytest.raises(ValueError, match="keyed by 'part', got None"):
        txn_append(spark, _df(spark, [("b", "2")], ["part", "v"]), path)
    assert dirs() == before
    # (b) every publish loses its race
    monkeypatch.setattr(txn_mod, "_publish", lambda *a, **kw: False)
    with pytest.raises(RuntimeError, match="optimistic races"):
        txn_append(spark, _df(spark, [("c", "3")], ["part", "v"]), path,
                   key="part")
    assert dirs() == before
    assert current_version(spark, path) == 1


# ----------------------------------------------- layout & semantics --


def test_replace_carries_untouched_partitions_by_reference(
        spark, tmp_path):
    """An untouched partition's files must be carried forward in the
    manifest without being rewritten (zero data movement)."""
    path = str(tmp_path / "t")
    txn_replace(
        spark,
        _df(spark, [("s1", "a"), ("s2", "b")], ["sess", "v"]),
        path, key="sess",
    )
    with open(_manifest_path(path, 1), "rb") as fh:
        m1 = json.loads(fh.read())
    s2_before = next(s for s in m1["segments"] if s["partition"] == "s2")

    txn_replace(spark, _df(spark, [("s1", "a2")], ["sess", "v"]),
                path, key="sess")
    with open(_manifest_path(path, 2), "rb") as fh:
        m2 = json.loads(fh.read())
    s2_after = next(s for s in m2["segments"] if s["partition"] == "s2")
    assert s2_after == s2_before  # same dir, same files — by reference
    s1_after = next(s for s in m2["segments"] if s["partition"] == "s1")
    assert s1_after["dir"] != s2_after["dir"]


def test_merge_upsert_default_protocol_is_manifest(spark, tmp_path):
    """The production sink commits via the manifest protocol — no
    .staged/.old rename debris, versions advance."""
    path = str(tmp_path / "t")
    df1 = _df(spark, [("1", "90.0")], ["k", "d"])
    merge_upsert(spark, df1, path, keys=["k"],
                 order=[F.col("d").desc()])
    merge_upsert(spark, _df(spark, [("1", "89.0"), ("2", "91.0")],
                            ["k", "d"]),
                 path, keys=["k"], order=[F.col("d").desc()])
    assert current_version(spark, path) == 2
    got = {r["k"]: r["d"] for r in read_table(spark, path).collect()}
    assert got == {"1": "90.0", "2": "91.0"}
    assert sorted(p.name for p in tmp_path.iterdir()) == ["t"]


def test_bootstrap_adopts_plain_partitioned_layout(spark, tmp_path):
    """txn_replace on a pre-existing PLAIN partitioned table (e.g.
    append_raw's layout) imports the untouched partitions as
    version-0 segments instead of losing them."""
    path = str(tmp_path / "t")
    (
        _df(spark, [("s1", "a"), ("s2", "b")], ["sess", "v"])
        .write.partitionBy("sess").parquet(path)
    )
    txn_replace(spark, _df(spark, [("s1", "A")], ["sess", "v"]),
                path, key="sess")
    got = {r["sess"]: r["v"] for r in read_table(spark, path).collect()}
    assert got == {"s1": "A", "s2": "b"}


def test_schema_drift_across_commits_null_fills(spark, tmp_path):
    """Appends whose schema drifts read back with NULLs on the old
    segments (unionByName allowMissingColumns across read legs)."""
    path = str(tmp_path / "t")
    txn_append(spark, _df(spark, [("a", "1")], ["k", "v"]), path)
    txn_append(spark, _df(spark, [("b", "2", "extra")],
                          ["k", "v", "w"]), path)
    rows = {r["k"]: (r["v"], r["w"])
            for r in read_table(spark, path).collect()}
    assert rows == {"a": ("1", None), "b": ("2", "extra")}


def test_vacuum_keeps_pinned_versions_readable(spark, tmp_path):
    path = str(tmp_path / "t")
    txn_merge(spark, path, lambda _: _df(spark, [("a", "1")], ["k", "v"]))
    txn_merge(spark, path, lambda ex: ex.withColumn("v", F.lit("2")))
    txn_merge(spark, path, lambda ex: ex.withColumn("v", F.lit("3")))
    removed = vacuum(spark, path, keep_versions=2, min_age_sec=0)
    assert removed == 1  # v1's dir gone, v2+v3 alive
    assert [r["v"] for r in read_table(spark, path, version=2).collect()] \
        == ["2"]
    assert [r["v"] for r in read_table(spark, path).collect()] == ["3"]
    with pytest.raises(FileNotFoundError):
        read_table(spark, path, version=1)


def test_merge_adopts_plain_partitioned_layout(spark, tmp_path):
    """r4 review finding: merge onto a pre-manifest PARTITIONED plain
    layout (append_raw's shape) must adopt those rows, not silently
    publish a manifest containing only the incoming batch."""
    path = str(tmp_path / "t")
    (
        _df(spark, [("s1", "a"), ("s2", "b")], ["sess", "v"])
        .write.partitionBy("sess").parquet(path)
    )
    merge_upsert(
        spark, _df(spark, [("s1", "A2")], ["sess", "v2"]).selectExpr(
            "sess", "v2 as v"),
        path, keys=["sess"], order=[F.col("v").desc_nulls_last()],
    )
    got = {r["sess"]: r["v"] for r in read_table(spark, path).collect()}
    assert got == {"s1": "a", "s2": "b"} or got == {"s1": "A2", "s2": "b"}
    assert "s2" in got  # the partitioned row survived adoption


def test_keyed_bootstrap_rejects_mismatched_layout(spark, tmp_path):
    """Adopting a flat-file plain table under a partition key (or a
    partitioned one unkeyed via append) must raise, not hide data."""
    flat = str(tmp_path / "flat")
    _df(spark, [("a", "1")], ["k", "v"]).write.parquet(flat)
    with pytest.raises(ValueError, match="would be hidden"):
        txn_replace(spark, _df(spark, [("a", "2")], ["k", "v"]),
                    flat, key="k")

    part = str(tmp_path / "part")
    _df(spark, [("a", "1")], ["k", "v"]).write.partitionBy("k").parquet(part)
    with pytest.raises(ValueError, match="would be hidden"):
        txn_append(spark, _df(spark, [("b", "2")], ["k", "v"]), part)


def test_vacuum_retention_spares_fresh_dirs(spark, tmp_path):
    """r4 review finding: an unreferenced dir younger than min_age_sec
    may belong to an in-flight commit — default vacuum must leave it,
    so a concurrent committer can still publish it safely."""
    path = str(tmp_path / "t")
    txn_merge(spark, path, lambda _: _df(spark, [("a", "1")], ["k", "v"]))
    _, staged = _stage(spark, _df(spark, [("x", "9")], ["k", "v"]), path, None)
    assert vacuum(spark, path) == 0  # default retention: spared
    # the in-flight commit can still publish and be read
    assert _publish(spark, path, 2, staged, None)
    assert [r["k"] for r in read_table(spark, path).collect()] == ["x"]
    # with retention waived (single-writer window) it is reclaimable
    txn_merge(spark, path, lambda ex: ex)
    assert vacuum(spark, path, keep_versions=1, min_age_sec=0) >= 1


def test_object_store_scheme_refuses_loudly(spark):
    """r4 review finding: on object-store URIs the rename fallback is
    NOT atomic — the protocol must refuse instead of degrading."""
    with pytest.raises(NotImplementedError, match="conditional PUT"):
        _put_if_absent(spark, "s3a://bucket/table/_txn/v1.json", b"{}")


def test_auto_vacuum_bounds_disk_and_keeps_retention_window(
        spark, tmp_path, monkeypatch):
    """Round-6 automated retention: with compaction auto-triggering and
    auto-vacuum bounds tightened to (keep 3 versions, age floor 0),
    50 appends must leave BOTH the data-dir count and the manifest
    count bounded by constants — not by commit count — while every
    version inside the retention window still time-travels to exactly
    the rows it had when current."""
    from formula1_data_pipeline_spark.sources import txn as txn_mod

    monkeypatch.setattr(txn_mod, "AUTO_VACUUM_KEEP_VERSIONS", 3)
    monkeypatch.setattr(txn_mod, "AUTO_VACUUM_MIN_AGE_SEC", 0.0)
    path = str(tmp_path / "t")
    snapshots: dict[int, list] = {}
    for i in range(50):
        v = txn_append(
            spark, _df(spark, [(f"k{i}", str(i))], ["k", "v"]),
            path, compact_threshold=4,
        )
        # auto-compaction bumps the version past the append's own
        v = current_version(spark, path)
        snapshots[v] = _snapshot(spark, path)
    dirs = [p.name for p in (tmp_path / "t").iterdir()
            if p.name.startswith("d-")]
    manifests = list((tmp_path / "t" / "_txn").iterdir())
    # ≤ threshold live dirs (+1 freshly appended), ≤ keep_versions + a
    # few commits since the last compaction — nowhere near 50
    assert len(dirs) <= 8, sorted(dirs)
    assert len(manifests) <= 8, sorted(m.name for m in manifests)
    # the retention window (3 newest surviving versions) time-travels
    vs = sorted(
        int(m.name[1:-5]) for m in manifests if m.name.endswith(".json")
    )
    for v in vs[-3:]:
        if v in snapshots:  # compaction versions replay their source
            assert sorted(
                tuple(r) for r in read_table(spark, path, version=v)
                .na.fill("").collect()
            ) == snapshots[v], f"version {v} drifted after vacuum"
    # final state is complete
    assert len(snapshots[vs[-1]]) == 50


def test_vacuum_retention_keyed_to_supersession_not_publish(
        spark, tmp_path):
    """Round-6 review finding: retention must clock from when a
    version was SUPERSEDED, not when it was published — a version
    current for hours can be resolved by a reader right up to the
    moment its successor lands, so 'v1 is old' says nothing about
    whether a reader still holds it. Backdate v1's manifest and data
    far past the age floor, commit v2 just now, vacuum: v1 must
    survive (its successor is young). Backdate v2's manifest too
    (simulating time passing) and vacuum again: v1 is reclaimed."""
    import os

    path = str(tmp_path / "t")
    txn_merge(spark, path, lambda _: _df(spark, [("a", "1")], ["k", "v"]))
    old = 1.0  # epoch 1970: far past any age floor
    os.utime(_manifest_path(path, 1), (old, old))
    for d in (tmp_path / "t").glob("d-*"):
        os.utime(d, (old, old))
    txn_merge(spark, path, lambda _: _df(spark, [("a", "2")], ["k", "v"]))

    removed = vacuum(spark, path, keep_versions=1, min_age_sec=3600)
    assert removed == 0
    # v1 still fully time-travelable: manifest AND data intact
    assert sorted(map(tuple, read_table(spark, path, version=1)
                      .collect())) == [("a", "1")]

    # now v2 (the successor) is also old -> v1's supersession is old
    os.utime(_manifest_path(path, 2), (old, old))
    for d in (tmp_path / "t").glob("d-*"):
        os.utime(d, (old, old))
    removed = vacuum(spark, path, keep_versions=1, min_age_sec=3600)
    assert removed == 1
    assert sorted(map(tuple, read_table(spark, path).collect())) \
        == [("a", "2")]


def test_store_adapter_lifts_refusal_and_enforces_conditional_put(spark):
    """Round-6: object-store conditional PUT plugs in via the
    ``sources.stores`` adapter registry. With the in-memory S3-
    semantics fake registered for s3a://, put-if-absent routes through
    it (first writer wins, second gets the 412-analog False); after
    unregistering, the loud refusal is back."""
    from formula1_data_pipeline_spark.sources.stores import (
        InMemoryConditionalStore,
        register_store_adapter,
        unregister_store_adapter,
    )

    fake = InMemoryConditionalStore()
    register_store_adapter("s3a", fake)
    try:
        key = "s3a://bucket/table/_txn/" + _manifest_path("t", 1).split(
            "/")[-1]
        assert _put_if_absent(spark, key, b'{"v": 1}')
        assert not _put_if_absent(spark, key, b'{"v": "loser"}')
        assert fake.get(key) == b'{"v": 1}'  # loser never overwrote
    finally:
        unregister_store_adapter("s3a")
    with pytest.raises(NotImplementedError, match="conditional PUT"):
        _put_if_absent(spark, "s3a://bucket/table/_txn/v1.json", b"{}")


def test_publish_conflict_on_fake_object_store_retries_clean(spark):
    """The optimistic-concurrency loop on an object store: two
    committers race _publish for version 2; exactly one wins, the
    loser's manifest is NOT written (no torn state), and its retry at
    version 3 lands. This is the exact protocol sequence txn's commit
    loop runs — exercised against S3 conditional-PUT semantics."""
    from formula1_data_pipeline_spark.sources.stores import (
        InMemoryConditionalStore,
        register_store_adapter,
        unregister_store_adapter,
    )

    fake = InMemoryConditionalStore()
    register_store_adapter("s3a", fake)
    try:
        tbl = "s3a://bucket/corpus"
        seg_a = [{"dir": "d-aaa", "files": ["part-0.parquet"]}]
        seg_b = [{"dir": "d-bbb", "files": ["part-0.parquet"]}]
        assert _publish(spark, tbl, 1, seg_a, None)
        # both committers resolved version 1 and target 2
        assert _publish(spark, tbl, 2, seg_a, None)      # winner
        assert not _publish(spark, tbl, 2, seg_b, None)  # loser: conflict
        v2 = json.loads(fake.get(_manifest_path(tbl, 2)))
        assert v2["segments"] == seg_a  # winner's manifest intact
        assert _publish(spark, tbl, 3, seg_b, None)      # loser's retry
        assert fake.get(_manifest_path(tbl, 4)) is None
    finally:
        unregister_store_adapter("s3a")


def test_threaded_publish_race_exactly_one_winner(spark):
    """16 threads race the same version's conditional PUT through the
    fake store; exactly one observes True."""
    from formula1_data_pipeline_spark.sources.stores import (
        InMemoryConditionalStore,
        register_store_adapter,
        unregister_store_adapter,
    )

    fake = InMemoryConditionalStore()
    register_store_adapter("s3a", fake)
    try:
        path = _manifest_path("s3a://bucket/t", 7)
        wins = []
        barrier = threading.Barrier(16)

        def attempt(i):
            barrier.wait()
            if _put_if_absent(spark, path, b"%d" % i):
                wins.append(i)

        ts = [threading.Thread(target=attempt, args=(i,)) for i in range(16)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert len(wins) == 1
        assert fake.get(path) == b"%d" % wins[0]
    finally:
        unregister_store_adapter("s3a")


def test_randomized_op_sequences_match_model(spark, tmp_path):
    """Property: any interleaving of append/replace/merge ops leaves
    read_table equal to a trivial Python dict model — and every
    intermediate version stays readable (snapshot isolation). Fixed
    seed: deterministic, no flaking; the value is the op-sequence
    coverage, not the randomness."""
    import random

    rng = random.Random(20260813)
    for case in range(3):
        path = str(tmp_path / f"t{case}")
        model: dict[str, dict[str, str]] = {}  # partition -> {k: v}
        history = []
        merged = False
        for step in range(5):
            # a keyed op on a table whose last merge committed it
            # unkeyed raises the documented key-mismatch ValueError —
            # legal sequences stay merge-only after a merge
            op = "merge" if merged else rng.choice(
                ["append", "replace", "merge"]
            )
            part = rng.choice(["p1", "p2", "p3"])
            rows = [
                (part, f"k{rng.randint(0, 3)}", f"v{case}.{step}.{i}")
                for i in range(rng.randint(1, 3))
            ]
            df = _df(spark, rows, ["part", "k", "v"])
            if op == "append":
                txn_append(spark, df, path, key="part")
                model.setdefault(part, {})
                for _, k, v in rows:
                    # append keeps duplicates; model tracks multiset via
                    # unique value strings (all values are distinct)
                    model[part][v] = (k, v)
            elif op == "replace":
                txn_replace(spark, df, path, key="part")
                model[part] = {v: (k, v) for _, k, v in rows}
            else:
                def merge(existing, df=df):
                    return df if existing is None else \
                        existing.unionByName(df)
                txn_merge(spark, path, merge)
                # merge flattens to unpartitioned: fold into one bucket
                flat = {v: (k, v) for p in model.values()
                        for (k, v) in p.values()}
                flat.update({v: (k, v) for _, k, v in rows})
                # after a merge the table is unpartitioned; partition
                # column 'part' survives as a data column
                model = {"__flat__": flat}
                merged = True
            history.append((current_version(spark, path),
                            _snapshot(spark, path)))
            expected = sorted(
                (k, v) for p in model.values() for (k, v) in p.values()
            )
            got = sorted(
                (r["k"], r["v"])
                for r in read_table(spark, path).select("k", "v").collect()
            )
            assert got == expected, f"case {case} step {step} op {op}"
        # snapshot isolation: every recorded version still reads the
        # same rows it did when it was current
        for version, snap in history:
            assert sorted(
                tuple(r) for r in read_table(spark, path, version=version)
                .na.fill("").collect()
            ) == snap, f"case {case} version {version} drifted"


def test_empty_first_keyed_commit_is_noop_not_corrupt(spark, tmp_path):
    """A keyed append/replace of an EMPTY first batch stages zero
    partition dirs; pre-fix it published a v1 manifest with
    segments=[], after which every read_table crashed with IndexError.
    Now it is a no-op: no version is created, and the table simply
    does not exist yet — the next non-empty commit bootstraps v1."""
    tbl = str(tmp_path / "t")
    empty = _df(spark, [("1", "a")], ["k", "v"]).limit(0)

    assert txn_append(spark, empty, tbl, key="k") == 0
    assert current_version(spark, tbl) is None
    assert txn_replace(spark, empty, tbl, key="k") == 0
    assert current_version(spark, tbl) is None

    # the no-op path must also clean up its staged dir: with no
    # manifest yet, vacuum can't reclaim orphans, so a scheduler
    # retrying an empty window would otherwise accumulate them
    leftovers = [p.name for p in (tmp_path / "t").glob("d-*")] \
        if (tmp_path / "t").exists() else []
    assert leftovers == []

    # a real first batch still works and readers see exactly it
    txn_append(spark, _df(spark, [("1", "a")], ["k", "v"]), tbl, key="k")
    assert _snapshot(spark, tbl) == [("a", "1")]  # key col reads back last


def test_zero_segment_manifest_read_raises_clearly(spark, tmp_path):
    """A legacy/hand-built zero-segment manifest fails loudly with the
    table path in the message, not with IndexError on legs[0]."""
    tbl = str(tmp_path / "t")
    assert _publish(spark, tbl, 1, [], "k")
    with pytest.raises(ValueError, match="lists no segments"):
        read_table(spark, tbl)


def test_auto_compaction_bounds_read_legs_and_keeps_time_travel(
        spark, tmp_path):
    """Property (round-5 verdict item 5): across 50 small keyed
    commits with auto-compaction on, the CURRENT manifest never
    references more than the threshold's worth of data dirs (read_table
    unions one leg per dir, so this bounds the read plan in commit
    count), no row is ever lost, and every previously-current version —
    including pre-compaction ones — still time-travels to exactly the
    rows it had when current."""
    from formula1_data_pipeline_spark.sources.txn import (
        _read_manifest,
        txn_compact,
    )

    path = str(tmp_path / "t")
    threshold = 6
    history = []
    for i in range(50):
        df = _df(spark, [(f"p{i % 3}", f"k{i}", f"v{i}")],
                 ["part", "k", "v"])
        if i % 2:
            txn_append(spark, df, path, key="part",
                       compact_threshold=threshold)
        else:
            txn_replace(spark, df, path, key="part",
                        compact_threshold=threshold)
        v = current_version(spark, path)
        live = {s["dir"] for s in _read_manifest(spark, path, v)["segments"]}
        assert len(live) <= threshold, f"commit {i}: {len(live)} dirs"
        history.append((v, _snapshot(spark, path)))

    # replace(part, single row) keeps only the latest row per partition
    # from replaces, plus appended rows since that partition's last
    # replace — the model the ops above encode:
    model: dict[str, dict[str, str]] = {}
    for i in range(50):
        part = f"p{i % 3}"
        if i % 2:
            model.setdefault(part, {})[f"k{i}"] = f"v{i}"
        else:
            model[part] = {f"k{i}": f"v{i}"}
    expected = sorted((k, v) for p in model.values() for k, v in p.items())
    got = sorted((r["k"], r["v"])
                 for r in read_table(spark, path).collect())
    assert got == expected

    for v, snap in history:
        assert sorted(
            tuple(r)
            for r in read_table(spark, path, version=v).na.fill("").collect()
        ) == snap, f"version {v} drifted after later compactions"

    # explicit compaction converges to a single dir and same rows
    txn_compact(spark, path)
    v = current_version(spark, path)
    assert len({s["dir"]
                for s in _read_manifest(spark, path, v)["segments"]}) == 1
    assert sorted((r["k"], r["v"])
                  for r in read_table(spark, path).collect()) == expected


# ---------------------------------------------- segment column stats --


def test_stats_recorded_inherited_and_pruned(spark, tmp_path):
    """stats_cols on the first commit records per-segment min/max,
    later commits inherit the setting without restating it, and
    read_table(prune=...) scans only the segments whose range can
    match — while the pruned frame still contains every matching row
    (superset contract)."""
    from formula1_data_pipeline_spark.sources.txn import _read_manifest

    path = str(tmp_path / "t")
    batch1 = spark.range(0, 100).select(
        (F.col("id") % 4).cast("string").alias("part"),
        F.col("id").alias("v"),
    )
    batch2 = spark.range(100, 200).select(
        (F.col("id") % 4).cast("string").alias("part"),
        F.col("id").alias("v"),
    )
    txn_append(spark, batch1, path, key="part", stats_cols=["v"],
               compact_threshold=None)
    txn_append(spark, batch2, path, key="part",
               compact_threshold=None)  # inherits stats_cols

    m = _read_manifest(spark, path, 2)
    assert m["stats_cols"] == ["v"]
    assert all("stats" in s and "v" in s["stats"] for s in m["segments"])

    full = read_table(spark, path)
    pruned = read_table(spark, path, prune={"v": (150, 160)})
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    got = sorted(r.v for r in pruned.filter(
        F.col("v").between(150, 160)).collect())
    assert got == list(range(150, 161))

    # partition-key pruning needs no stats at all
    by_key = read_table(spark, path, prune={"part": ("2", "2")})
    assert len(by_key.inputFiles()) < len(full.inputFiles())
    assert by_key.count() == 50
    assert set(r.part for r in by_key.select("part").distinct()
               .collect()) == {"2"}


def test_stats_survive_compaction_and_all_pruned_keeps_schema(
        spark, tmp_path):
    from formula1_data_pipeline_spark.sources.txn import (
        _read_manifest,
        txn_compact,
    )

    path = str(tmp_path / "t")
    for lo in (0, 50):
        txn_append(
            spark,
            spark.range(lo, lo + 50).select(
                (F.col("id") % 2).cast("string").alias("part"),
                F.col("id").alias("v"),
            ),
            path, key="part", stats_cols=["v"], compact_threshold=None,
        )
    txn_compact(spark, path)
    m = _read_manifest(spark, path, current_version(spark, path))
    assert m["stats_cols"] == ["v"]
    assert all(s["stats"]["v"] == [
        min(i for i in range(100) if str(i % 2) == s["partition"]),
        max(i for i in range(100) if str(i % 2) == s["partition"]),
    ] for s in m["segments"])

    # a range no segment can satisfy: zero rows, schema preserved
    nothing = read_table(spark, path, prune={"v": (1000, 2000)})
    assert nothing.count() == 0
    assert set(nothing.columns) == {"part", "v"}


def test_pruning_is_fail_open_on_missing_or_mismatched_stats(
        spark, tmp_path):
    """Segments without stats (pre-stats commits) and bounds of a
    different type than the stored stat must never be pruned — data
    skipping degrades to a full scan, not to lost rows."""
    path = str(tmp_path / "t")
    txn_append(spark, _df(spark, [("a", "1", "x")], ["part", "v", "p"]),
               path, key="part", compact_threshold=None)  # no stats
    txn_append(spark, _df(spark, [("b", "2", "y")], ["part", "v", "p"]),
               path, key="part", stats_cols=["v"], compact_threshold=None)

    # stat stored for commit 2 only; commit 1's segment must survive
    # any prune on v
    pruned = read_table(spark, path, prune={"v": ("0", "1")})
    assert sorted(r.p for r in pruned.collect()) == ["x"] or \
        sorted(r.p for r in pruned.collect()) == ["x", "y"]
    assert "x" in {r.p for r in pruned.collect()}

    # int bounds vs string stats: incomparable -> keep everything
    mismatched = read_table(spark, path, prune={"v": (0, 0)})
    assert {r.p for r in mismatched.collect()} == {"x", "y"}


def test_stats_attachment_fail_open_on_weird_partition_values(
        spark, tmp_path):
    """Partition dir names are Hive-escaped; stats rows are matched
    back by string round-trip. For every value — clean, spaced,
    slashed, unicode, float-rendered — a segment either carries stats
    that CORRECTLY bound its rows or carries none (fail-open): a
    mismatched attachment would prune wrong rows, absence merely
    disables skipping."""
    from urllib.parse import unquote

    from formula1_data_pipeline_spark.sources.txn import _read_manifest

    vals = ["plain", "with space", "a/b=c", "ünïcode", "x%20y"]
    rows = [(p, i * 10 + j) for i, p in enumerate(vals) for j in range(3)]
    path = str(tmp_path / "t")
    txn_append(spark, _df(spark, rows, ["part", "v"]), path, key="part",
               stats_cols=["v"], compact_threshold=None)

    by_part = {}
    for p, v in rows:
        by_part.setdefault(p, []).append(v)
    m = _read_manifest(spark, path, 1)
    n_with_stats = 0
    for seg in m["segments"]:
        decoded = unquote(seg["partition"])
        if "stats" in seg:
            n_with_stats += 1
            lo, hi = seg["stats"]["v"]
            assert decoded in by_part
            assert lo == min(by_part[decoded])
            assert hi == max(by_part[decoded])
    assert n_with_stats >= 1  # the clean values must round-trip

    # pruning with real bounds returns a superset of matching rows
    pruned = read_table(spark, path, prune={"v": (20, 29)})
    got = sorted(int(r.v) for r in pruned.collect()
                 if 20 <= int(r.v) <= 29)
    assert got == [v for v in sorted(sum(by_part.values(), []))
                   if 20 <= v <= 29]


def test_retry_reattaches_stats_for_concurrently_widened_cols(
        spark, tmp_path):
    """A committer inheriting stats_cols can lose an optimistic race to
    a writer that WIDENED the table's stats columns; its retry must
    re-attach stats for the new effective set — a manifest advertising
    stats_cols its own segments don't carry would make prune on the
    new column silently ineffective (round-5 review finding)."""
    from formula1_data_pipeline_spark.sources.txn import _read_manifest

    path = str(tmp_path / "t")
    txn_append(spark, _df(spark, [("a", "1", "10")], ["part", "v", "w"]),
               path, key="part", stats_cols=["v"], compact_threshold=None)

    fired = []

    def widen_once():
        if fired:
            return
        fired.append(True)
        txn_append(spark,
                   _df(spark, [("b", "2", "20")], ["part", "v", "w"]),
                   path, key="part", stats_cols=["v", "w"],
                   compact_threshold=None)

    # inherits stats_cols (None) — first attempt resolves ["v"], the
    # interleaved winner widens to ["v", "w"], the retry must re-attach
    txn_replace(spark, _df(spark, [("c", "3", "30")], ["part", "v", "w"]),
                path, key="part", pre_publish_hook=widen_once,
                compact_threshold=None)

    m = _read_manifest(spark, path, current_version(spark, path))
    assert m["stats_cols"] == ["v", "w"]
    c_seg = [s for s in m["segments"] if s["partition"] == "c"]
    assert len(c_seg) == 1
    assert set(c_seg[0]["stats"]) == {"v", "w"}
    assert c_seg[0]["stats"]["w"] == ["30", "30"]


def test_overwrite_auto_vacuum_reclaims_superseded_copies(
        spark, tmp_path, monkeypatch):
    """Round-6 ADVICE (medium): a mart rebuilt via txn_overwrite
    supersedes EVERY previous segment, so without reclamation each
    rebuild leaves a full extra copy on disk forever. With
    auto_vacuum=True the data-dir count stays bounded across many
    rebuilds (under a zeroed age floor), while auto_vacuum=False
    keeps all history."""
    from formula1_data_pipeline_spark.sources import txn as txn_mod
    from formula1_data_pipeline_spark.sources.txn import txn_overwrite

    monkeypatch.setattr(txn_mod, "AUTO_VACUUM_MIN_AGE_SEC", 0.0)

    def dirs(p):
        return [d.name for d in p.iterdir() if d.name.startswith("d-")]

    keep = str(tmp_path / "keep")
    for i in range(5):
        txn_overwrite(spark, _df(spark, [(f"k{i}", str(i))], ["k", "v"]),
                      keep)
    assert len(dirs(tmp_path / "keep")) == 5  # default: full history

    path = str(tmp_path / "t")
    for i in range(5):
        txn_overwrite(spark, _df(spark, [(f"k{i}", str(i))], ["k", "v"]),
                      path, auto_vacuum=True)
    # keep_versions=1 + the age floor at 0 → only the newest version's
    # single dir survives each rebuild
    assert len(dirs(tmp_path / "t")) <= 2, dirs(tmp_path / "t")
    assert _snapshot(spark, path) == [("k4", "4")]


def test_unkeyed_observed_stats_match_readback(spark, tmp_path):
    """r15 optimization guard: an UNKEYED stats-bearing commit now
    computes its segment min/max via observe() inside the staging
    write (zero extra jobs); the recorded values and types must equal
    what the _segment_stats read-back computes from the staged
    parquet — across the stat-bearing types (ints, strings, doubles,
    timestamps) and the skipped ones (NaN)."""
    import datetime

    from formula1_data_pipeline_spark.sources.txn import (
        _read_manifest,
        _segment_stats,
    )

    path = str(tmp_path / "t")
    ts = datetime.datetime(2024, 3, 1, 12, 30, 0)
    df = spark.createDataFrame(
        [(5, "bb", 1.5, ts), (2, "aa", float("nan"),
                              ts + datetime.timedelta(days=2))],
        "v long, s string, d double, t timestamp",
    )
    txn_append(spark, df, path, stats_cols=["v", "s", "d", "t"],
               compact_threshold=None)
    m = _read_manifest(spark, path, 1)
    seg = m["segments"][0]
    back = _segment_stats(spark, f"{path}/{seg['dir']}", None,
                          ["v", "s", "d", "t"])
    assert seg.get("stats") == back[None]
    assert seg["stats"]["v"] == [2, 5]
    assert seg["stats"]["s"] == ["aa", "bb"]
    # NaN orders weirdly — max(d) is NaN, which _stat_val drops on
    # BOTH paths, so 'd' has no recorded stats either way
    assert "d" not in seg["stats"]
    assert seg["stats"]["t"][0].startswith("2024-03-01 12:30")

    # inherited stats (stats_cols=None) still resolve via the
    # manifest and the read-back; values identical to observed form
    df2 = spark.createDataFrame(
        [(9, "zz", 0.0, ts)], "v long, s string, d double, t timestamp")
    txn_append(spark, df2, path, compact_threshold=None)
    m2 = _read_manifest(spark, path, 2)
    new_seg = [s for s in m2["segments"] if s["dir"] != seg["dir"]][0]
    assert new_seg["stats"]["v"] == [9, 9]
    assert new_seg["stats"]["s"] == ["zz", "zz"]

    # prune correctness over the observed stats
    pruned = read_table(spark, path, prune={"v": (8, 10)})
    assert [r.v for r in pruned.collect()] == [9]
