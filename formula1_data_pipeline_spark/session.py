"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all
cores); the same settings are cluster-safe: AQE handles runtime
re-planning (partition coalescing, skew-join splitting, dynamic
broadcast), shuffle partitions are sized for the local core count and
meant to be overridden per deployment.

Correctness assumptions (documented per SURVEY.md §4):
- ``spark.sql.ansi.enabled=false``: CAST of garbage returns NULL, which
  matches the reference's observable behavior on cleaned inputs
  (Snowflake strict CAST after sentinel scrubbing + try_to_double for
  known-dirty columns).
- ``spark.sql.session.timeZone=UTC``: DuckDB timestamps are UTC-naive;
  pinning UTC makes parquet timestamp comparisons exact.
"""

from __future__ import annotations

import datetime
import os
import tempfile
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _local_heap_default() -> str:
    """Heap for a local[N] JVM: half the visible memory limit, capped
    at 16 GiB, floored at the 1 GiB Spark default. Checks the cgroup
    v2/v1 limit before /proc/meminfo so a container-limited run never
    sets -Xmx past what the kernel will actually grant (an -Xmx above
    the cgroup cap turns graceful spills into an OOM-kill)."""
    limit_bytes = None
    for p in ("/sys/fs/cgroup/memory.max",
              "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(p) as f:
                raw = f.read().strip()
            if raw.isdigit():
                limit_bytes = int(raw)
            break
        except OSError:
            continue
    if limit_bytes is None or limit_bytes > 1 << 50:  # "max" / no cap
        try:
            with open("/proc/meminfo") as f:
                for line in f:
                    if line.startswith("MemTotal:"):
                        limit_bytes = int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    if limit_bytes is None:
        return "1g"
    return f"{max(1, min(16, limit_bytes // 2 // (1 << 30)))}g"


def get_spark(
    app_name: str = "formula1_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Cheap to call repeatedly — Spark returns the active session when one
    exists (configs are applied only at first creation).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- parallelism: ~cores locally; cluster deployments override.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        # --- AQE: runtime partition coalescing, skew-join splitting,
        #     sort-merge->broadcast demotion. Core of the 100 TB story.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # default 256MB threshold misses moderately-skewed partitions
        # on a 32-core local box (LSH hot bands, boilerplate keys);
        # split anything 5x median above 64MB
        .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                "67108864")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "33554432")
        # --- correctness policy (see module docstring).
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # --- Arrow for every pandas_udf / applyInPandas / toPandas hop.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- keep parquet scans splittable at 128 MiB (default, explicit
        #     because bench varies it); row-group pruning + pushdown on.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        # --- testdata events.parquet carries TIMESTAMP(NANOS) which
        #     Spark's parquet reader rejects; read as long and convert
        #     (queries.load truncates to micros, matching DuckDB's cast).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- ConvertToLocalRelation folds a Project/Filter/Limit over
        #     a local relation by evaluating it on the driver,
        #     interpreted. A lambda variable (transform, aggregate,
        #     zip_with) holds its current element IN the expression
        #     object, and queries built on one frame share those
        #     objects, so two concurrent queries (concurrency.overlap
        #     legs) over one local_frame overwrite each other's
        #     elements: ivf_index_build landed lists whose vectors mixed
        #     elements of other rows. Excluded, the projection runs in
        #     tasks, as over any other scan.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "ConvertToLocalRelation")
        # --- managed tables (bucketed layouts) land in tmp, not cwd;
        #     static conf, so it must be set at session build.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "spark-warehouse"),
            ),
        )
        # --- quiet non-interactive runs.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    # --- heap (LOCAL masters only): local-mode defaults to 1g for the
    #     WHOLE JVM, which starves 32 concurrent tasks into spills +
    #     GC churn (bench runs log MemoryManager >95% warnings).
    #     Sized to half the visible cgroup/host memory, capped 16 GiB
    #     (matched-load A/B: heavy dedup subset 40.8 s vs 48.7 s,
    #     light queries unchanged); SPARK_GRAFT_DRIVER_MEM overrides.
    #     Non-local masters are untouched — cluster deployments size
    #     driver/executor memory per node. Honored at first JVM launch
    #     only (launch_gateway passes it to spark-submit); a
    #     pre-existing session keeps its heap.
    if master.startswith("local"):
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _local_heap_default(),
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: Iterable[tuple],
                schema: str | StructType) -> DataFrame:
    """A driver-side frame as a JVM local relation: ``rows`` become a
    ``pyarrow.Table`` handed to ``spark.createDataFrame``, which plans
    as ``LocalTableScan``. A plain list would plan as a Python RDD
    instead, and every job over that frame would pay a Python-worker
    leg. This is the package's one ``createDataFrame`` site.

    ``schema`` is a DDL string or a ``StructType``. Each row is
    checked against it exactly as the list path checks it (a value of
    the wrong type raises ``TypeError``). A naive ``datetime`` in a
    timestamp column raises ``ValueError``: the list path reads it in
    the Python process's time zone and Arrow reads it as UTC, so the
    same row would land at two different instants.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import TimestampType, _make_type_verifier

    if not isinstance(schema, StructType):
        schema = StructType.fromDDL(schema)
    rows = list(rows)
    verify = _make_type_verifier(schema)
    ts_cols = [i for i, f in enumerate(schema.fields)
               if isinstance(f.dataType, TimestampType)]
    for r in rows:
        verify(r)
        for i in ts_cols:
            v = r[i]
            if isinstance(v, datetime.datetime) and v.tzinfo is None:
                raise ValueError(
                    f"local_frame: naive datetime {v!r} in timestamp "
                    f"column {schema.fields[i].name!r}; pass an aware "
                    "datetime (e.g. tzinfo=datetime.timezone.utc)")
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type)
         for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)
