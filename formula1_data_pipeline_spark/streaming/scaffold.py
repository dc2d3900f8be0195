"""Shared scaffolding for bounded streaming replays.

Every streaming leg replays a driver-generated parquet table as a file
stream and runs it to completion with ``Trigger.AvailableNow``. The
setup steps are identical across legs and used to be copy-pasted into
every module — which is exactly where the events-timestamp encoding
bug bred in round 2, and where two of the await sites came to ignore
the timeout. One implementation of each step now:

- ``stage(df, base, n_source_files, label)`` — write the frame as
  ``n_source_files`` parquet files under ``base/src``, ONCE. A re-call
  against the same ``base`` compares order-free content fingerprints
  and raises on a different corpus: with the stable checkpoint below,
  a recycled batch id must carry the same files, so replaying old
  staging for new data would silently return the wrong state.
- ``source(spark, schema, src_dir)`` — the parquet file stream, one
  file per micro-batch (``maxFilesPerTrigger=1``).
- ``run(df, label, land=None, base=None, output_mode="append")`` —
  ``Trigger.AvailableNow`` under the scoped shuffle-partition
  override (state stores are per-partition; see confs.py), checkpoint
  at ``base/ckpt``. ``land=None`` uses the memory sink and returns its
  table; otherwise each micro-batch goes through ``foreachBatch(land)``
  and the caller reads what ``land`` wrote. A replay that outlives
  ``confs.TIMEOUT_SEC`` is stopped and raises ``TimeoutError``: a
  partly landed table with the query still writing behind the reader
  would be silent corruption.
- ``file_stream(spark, path)`` — the memory-sink legs' source over a
  raw events file: schema probe (cached per path: the batch footer
  read costs a Spark job, and the gate replays the same file for
  several queries), symlink staging dir (FileStreamSource accepts only
  directories; the symlink is zero-copy and also cached), event-ts
  normalization.

Caching note: schema/symlink caches key on (resolved path, mtime,
size), so the same process can gate sf0.001/sf0.01/sf0.1 side by side
and a rewritten file invalidates its stale entry. These are
per-process conveniences for the bounded local replays — a production
deployment reads its stream from a real source (Kafka / object-store
listing) and none of this scaffolding exists.
"""

from __future__ import annotations

import os
import pathlib
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from formula1_data_pipeline_spark.functions.timestamps import (
    ensure_nanos_conf,
    footer_has_nanos,
    normalize_event_ts,
    read_parquet_maybe_nanos,
)
from formula1_data_pipeline_spark.scratch import scratch_dir
from formula1_data_pipeline_spark.streaming import confs

_CacheKey = tuple[str, int, int]  # (resolved path, mtime_ns, size)
_SCHEMA_CACHE: dict[_CacheKey, StructType] = {}
_SRC_DIR_CACHE: dict[_CacheKey, str] = {}


def _cache_key(path: str) -> _CacheKey:
    """Key caches on (path, mtime_ns, size) so a file rewritten
    in-process (e.g. a regenerated replay table with a changed schema)
    invalidates the stale schema/symlink instead of serving it."""
    resolved = pathlib.Path(path).resolve()
    st = resolved.stat()
    return (str(resolved), st.st_mtime_ns, st.st_size)


def _probe_schema(spark: SparkSession, path: str) -> StructType:
    """File streams need the schema up front; take it from a batch
    footer read, once per (path, mtime, size) per process."""
    key = _cache_key(path)
    if key not in _SCHEMA_CACHE:
        _SCHEMA_CACHE[key] = read_parquet_maybe_nanos(spark, path).schema
    return _SCHEMA_CACHE[key]


def _staged_dir(path: str) -> str:
    """FileStreamSource only accepts directories — stage the file
    behind a symlink dir (zero-copy), once per (path, mtime, size)
    per process."""
    key = _cache_key(path)
    if key not in _SRC_DIR_CACHE:
        src_dir = scratch_dir(prefix="stream_src_")
        p = pathlib.Path(path)
        os.symlink(p, pathlib.Path(src_dir) / p.name)
        _SRC_DIR_CACHE[key] = src_dir
    return _SRC_DIR_CACHE[key]


def stage(df: DataFrame, base: str | os.PathLike, n_source_files: int,
          label: str) -> str:
    """Write ``df`` as ``n_source_files`` parquet files under
    ``base/src`` unless a staging is already there; return the dir.

    The split is an arbitrary (hash) repartition: every leg's
    convergence contract is that its landed state does not depend on
    it. An existing staging must hold the same content (same
    cardinality is not enough), else ``ValueError`` — the entry points
    replay a FIXED snapshot, and continuous ingestion is each
    operator's own append surface."""
    src = pathlib.Path(base) / "src"
    if not src.exists():
        df.repartition(n_source_files).write.parquet(str(src))
        return str(src)
    staged_fp = content_fingerprint(df.sparkSession.read.parquet(str(src)))
    fresh_fp = content_fingerprint(df)
    if staged_fp != fresh_fp:
        raise ValueError(
            f"{label}: work_dir holds a staging of a different corpus "
            f"(fingerprint {staged_fp} vs {fresh_fp}) — this entry point "
            "replays a FIXED snapshot; use a fresh work_dir, or append "
            "the delta through the operator's incremental surface")
    return str(src)


def source(spark: SparkSession, schema: StructType | str,
           src_dir: str) -> DataFrame:
    """The parquet file stream over ``src_dir``, one file per
    micro-batch."""
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src_dir)
    )


def file_stream(spark: SparkSession, path: str) -> DataFrame:
    """A parquet file stream over the single file ``path`` with the
    event timestamp normalized to µs TIMESTAMP (see
    functions/timestamps.py).

    A TIMESTAMP(NANOS) footer needs nanosAsLong on THIS session — and
    the decision must be per FILE, not a side effect of the schema
    probe: the schema cache is process-global, so a second session in
    the same process gets a cache hit and the probe's read fallback
    would never fire on it (review finding, round 9). ``footer_has_
    nanos`` checks the footer via pyarrow (no Spark job) and the conf
    is set loudly, idempotently, only for nanos footers; µs-footer
    generations never touch session conf.
    """
    if footer_has_nanos(path):
        ensure_nanos_conf(spark)
    stream = source(spark, _probe_schema(spark, path), _staged_dir(path))
    return normalize_event_ts(stream)


def run(
    df: DataFrame,
    label: str,
    land: Callable[[DataFrame, int], None] | None = None,
    base: str | os.PathLike | None = None,
    output_mode: str = "append",
) -> DataFrame | None:
    """Run the streaming ``df`` to completion (AvailableNow) as query
    ``<label>_<8 hex>`` with its checkpoint at ``base/ckpt`` (a fresh
    scratch dir when ``base`` is None).

    ``land=None``: memory sink, returns the sink table. Otherwise each
    micro-batch goes to ``land(batch_df, batch_id)`` and this returns
    None. Per-batch jobs plan while the query runs, so the
    shuffle-partition override spans the whole await (confs.py)."""
    spark = df.sparkSession
    qname = f"{label}_{uuid.uuid4().hex[:8]}"
    ckpt = pathlib.Path(base if base is not None
                        else scratch_dir(prefix=f"{label}_")) / "ckpt"
    writer = df.writeStream.queryName(qname).outputMode(output_mode)
    writer = (writer.format("memory") if land is None
              else writer.foreachBatch(land))
    with confs.scoped_shuffle_partitions(spark, confs.STATE_PARTITIONS):
        query = (
            writer.option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        if not query.awaitTermination(confs.TIMEOUT_SEC):
            query.stop()
            raise TimeoutError(
                f"{label} did not finish within {confs.TIMEOUT_SEC}s")
    return spark.table(qname) if land is None else None


def content_fingerprint(df: DataFrame) -> tuple[int, int]:
    """Order-free content checksum of a frame: (row_count, XOR of the
    60-bit md5 of each row's '|'-joined string form). ``stage``'s
    guard compares this instead of a bare count — a changed corpus
    with the SAME cardinality must raise, not silently replay the old
    staging and return state for the wrong data (round-10 ADVICE). XOR
    is order- and partitioning-free and cannot overflow; count catches
    the one case XOR can't (a value appearing an even number of times
    both sides). One map-side aggregate pass — no shuffle, no collect
    beyond the 1-row agg."""
    from pyspark.sql import functions as F

    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(
                "|", *[F.col(c).cast("string") for c in df.columns])),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    row = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(h)"), F.lit(0)).alias("x"),
    ).collect()[0]
    return int(row["n"]), int(row["x"])
