"""Streaming drift monitor (`streaming/drift.py`): per-micro-batch
rows must equal the batch operator run on the same slices, and the
shared-math factoring must equal drift_report's summary exactly."""

from __future__ import annotations

from pyspark.sql import functions as F

from formula1_data_pipeline_spark.operators.quality import (
    drift_report,
    drift_summary,
    value_counts_long,
)
from formula1_data_pipeline_spark.queries import load
from formula1_data_pipeline_spark.streaming.drift import (
    drift_vs_reference_counts,
    stream_drift_monitor,
)

SF = "/root/testdata/sf0.001"


def test_drift_vs_reference_counts_equals_batch_path(spark):
    docs = load(spark, SF, "documents")["documents"]
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    want = sorted(
        tuple(r)
        for r in drift_summary(
            drift_report(ref, new, ["lang", "source"])).collect()
    )
    got = sorted(
        tuple(r)
        for r in drift_vs_reference_counts(
            new, value_counts_long(ref, ["lang", "source"]),
            ref.count(), ["lang", "source"],
        ).collect()
    )
    assert got == want


def test_stream_drift_monitor_matches_batch_per_slice(spark):
    docs = load(spark, SF, "documents")["documents"]
    ref = docs.filter(F.col("doc_id") % 5 == 0)
    n_files = 3
    landed = stream_drift_monitor(
        spark, f"{SF}/documents.parquet", ref, ["lang", "source"],
        n_source_files=n_files,
    )
    got = sorted(
        (r["batch_id"], r["n_rows"], r["column"], r["n_values"],
         r["tv_distance"])
        for r in landed.collect()
    )
    # one row per (batch, column); batch i carries slice doc_id%3==i
    assert len(got) == n_files * 2
    want = []
    for i in range(n_files):
        part = docs.filter(F.col("doc_id") % n_files == i)
        rows = drift_summary(
            drift_report(ref, part, ["lang", "source"])).collect()
        n = part.count()
        for r in rows:
            want.append((i, n, r["column"], r["n_values"],
                         r["tv_distance"]))
    assert got == sorted(want)
    # non-degenerate: every batch measured a real (nonzero) drift or
    # a real zero on actual buckets
    assert all(r[3] > 0 for r in got)
