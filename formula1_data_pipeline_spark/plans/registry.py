"""Model registry + topological executor — the dbt DAG, Spark-first.

The reference's pipeline is a dbt project: models are SQL files whose
``ref()`` edges form a DAG; staging/intermediate are views (inlined at
query time), marts are tables (materialized CTAS). See reference
``dags/formula1_elt_dag.py:40-58`` (run -> test -> snapshot) and
``dbt_project.yml:16-19``.

Spark equivalent implemented here:
- a *model* is a pure function ``dict[str, DataFrame] -> DataFrame``
  receiving its resolved refs/sources by name;
- ``materialized='view'`` == returning the lazy DataFrame (logical-plan
  composition; Catalyst inlines exactly like Snowflake inlined views);
- ``materialized='table'`` == the executor optionally persists the
  DataFrame and re-reads it, cutting the lineage — committed through
  the manifest protocol (``sources.txn``), so a mart rebuild publishes
  atomically and its manifest carries per-segment stats for
  ``read_table(prune=...)`` data skipping;
- execution order is a topo-sort over declared refs, mirroring
  ``dbt run``; assertions (``plans.assertions``) mirror ``dbt test``.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, SparkSession

ModelFn = Callable[[Mapping[str, DataFrame]], DataFrame]


@dataclass(frozen=True)
class Model:
    name: str
    fn: ModelFn
    refs: tuple[str, ...] = ()        # upstream models
    sources: tuple[str, ...] = ()     # raw inputs (resolved externally)
    materialized: str = "view"        # 'view' | 'table' | 'incremental'
    incremental_key: str | None = None  # partition key for 'incremental'
    partition_key: str | None = None  # storage partitioning for 'table'
    stats_cols: tuple[str, ...] = ()  # manifest min/max stats ('table')


@dataclass
class ModelRegistry:
    """Holds models, resolves the DAG, executes in dependency order."""

    models: dict[str, Model] = field(default_factory=dict)

    def register(
        self,
        name: str,
        refs: tuple[str, ...] = (),
        sources: tuple[str, ...] = (),
        materialized: str = "view",
        incremental_key: str | None = None,
        partition_key: str | None = None,
        stats_cols: tuple[str, ...] = (),
    ) -> Callable[[ModelFn], ModelFn]:
        if materialized == "incremental" and not incremental_key:
            raise ValueError(
                f"incremental model {name!r} needs incremental_key"
            )

        def deco(fn: ModelFn) -> ModelFn:
            if name in self.models:
                raise ValueError(f"duplicate model {name!r}")
            self.models[name] = Model(name, fn, refs, sources, materialized,
                                      incremental_key, partition_key,
                                      stats_cols)
            return fn

        return deco

    def topo_order(self, targets: list[str] | None = None) -> list[str]:
        """Dependency-first order of the requested models (all by default)."""
        wanted = set(targets or self.models)
        # pull in transitive refs
        stack = list(wanted)
        while stack:
            m = self.models[stack.pop()]
            for r in m.refs:
                if r not in wanted:
                    wanted.add(r)
                    stack.append(r)
        ts = TopologicalSorter(
            {n: set(self.models[n].refs) for n in wanted}
        )
        return list(ts.static_order())

    def _build_one(
        self,
        spark: SparkSession,
        name: str,
        built: Mapping[str, DataFrame],
        materialize_to: str | None,
    ) -> DataFrame:
        """Build (and optionally persist) one model from its resolved
        parents. Reads ``built`` only — safe to call from a worker
        thread once every ref/source entry is present."""
        model = self.models[name]
        missing = [s for s in model.sources if s not in built]
        if missing:
            raise KeyError(f"model {name!r} missing sources {missing}")
        df = model.fn(built)
        if materialize_to and model.materialized == "incremental":
            # dbt-incremental semantics, delete+insert strategy: the
            # caller feeds this run's source window; only the
            # incremental_key partitions present in the new batch
            # are replaced (txn_replace carries the rest forward by
            # reference), so repeated loads converge to the
            # full-rebuild state and re-running a window is
            # idempotent. Committed via the manifest protocol —
            # readers see each load atomically.
            from formula1_data_pipeline_spark.sources.txn import (
                read_table,
                txn_replace,
            )

            path = f"{materialize_to}/{name}"
            txn_replace(spark, df, path, key=model.incremental_key)
            df = read_table(spark, path)
        elif materialize_to and model.materialized == "table":
            # Table marts commit through the manifest protocol, like
            # the incremental path above: publication is atomic (a
            # dashboard reading mid-rebuild sees the old mart or the
            # new one, never a mix — plain overwrite deletes then
            # rewrites in place), and the manifest carries per-segment
            # min/max stats for the model's declared ``stats_cols``,
            # so session/date-scoped consumer reads can skip segments
            # via ``read_table(prune=...)`` on top of the season
            # partition pruning.
            from formula1_data_pipeline_spark.sources.txn import (
                read_table,
                txn_overwrite,
            )

            path = f"{materialize_to}/{name}"
            cols = df.columns
            pk = model.partition_key
            pk_type = dict(df.dtypes).get(pk)
            scols = [c for c in model.stats_cols if c in cols] or None
            # Full overwrite, not txn_replace: a rebuild's output must
            # equal the build exactly — replace-by-key would carry
            # forward partitions (seasons) the new build no longer
            # produces (round-6 review finding). Keyed marts stay
            # storage-partitioned (SURVEY §4: marts by season_year),
            # so per-season consumer reads prune to one partition's
            # segments instead of scanning the table; read-back
            # restores the declared column order (the partition key
            # rides last otherwise), so materialized and lazy runs
            # expose identical schemas.
            # auto_vacuum: every rebuild supersedes the whole previous
            # mart, so without reclamation each REGISTRY.run leaves a
            # full extra copy on disk forever (round-6 ADVICE); the
            # AUTO_VACUUM_* age floor still protects concurrent
            # readers and recent time-travel.
            txn_overwrite(
                spark, df, path,
                key=pk if pk and pk in cols else None,
                stats_cols=scols,
                auto_vacuum=True,
            )
            out = read_table(spark, path)
            if pk and pk in cols:
                # read_table restores partition values as strings
                # (all-VARCHAR landing policy); marts keep the model's
                # declared type
                from pyspark.sql import functions as F

                out = out.withColumn(pk, F.col(pk).cast(pk_type))
            df = out.select(*cols)
        return df

    def run(
        self,
        spark: SparkSession,
        sources: Mapping[str, DataFrame],
        targets: list[str] | None = None,
        materialize_to: str | None = None,
    ) -> dict[str, DataFrame]:
        """Build every model (or the listed targets + upstreams).

        ``materialize_to``: optional directory; models declared
        ``materialized='table'`` (or ``'incremental'``) are written
        there and read back (lineage cut == dbt CTAS). When None
        everything stays lazy, which is what tests and the oracle gate
        want.

        One loop serves lazy and materializing runs: it walks the DAG
        generation by generation. Views (and every model of a lazy
        run) only compose plans, so they build inline. Each
        generation's writing models run as ``concurrency.overlap``
        legs labelled ``model: <name>`` — the reference's dbt
        ``threads: 4`` run stage (``dbt/profiles.yml:13``), with the
        legs inheriting the caller's job group. In the catalog DAGs
        the writers of a generation are at most 3 wide (the three
        marts), so the dbt cap never binds. The result is keyed in
        ``topo_order``.
        """
        from formula1_data_pipeline_spark.concurrency import overlap

        built: dict[str, DataFrame] = dict(sources)
        order = self.topo_order(targets)
        ts = TopologicalSorter({n: set(self.models[n].refs) for n in order})
        ts.prepare()
        while ts.is_active():
            ready = ts.get_ready()
            writers = [n for n in ready if materialize_to
                       and self.models[n].materialized != "view"]
            for name in ready:
                if name not in writers:
                    built[name] = self._build_one(spark, name, built,
                                                  materialize_to)
            if writers:
                # legs read ``built`` only; the parents they need were
                # all stored by earlier generations
                dfs = overlap(spark, [
                    (f"model: {name}",
                     lambda name=name: self._build_one(
                         spark, name, built, materialize_to))
                    for name in writers
                ])
                built.update(zip(writers, dfs))
            ts.done(*ready)
        return {n: built[n] for n in order}
