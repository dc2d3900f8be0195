"""The benchmark's workloads, seeds and layer predictions.

A workload is a list of catalog queries run once each, in a fresh
process, in an order the seed permutes. The seed reaches nothing else:
the input tables are the engine's fixed sf0.1 test data and the program
never sees it.

Each list is a cut of a longer one. A pass pays about 21 s of process
start, session start and warmup before its first query, and twenty-odd
runs of every workload must fit in one hour, so a pass keeps to about
15-27 s of queries and output checks. What each list leaves out is
listed below.
"""

from __future__ import annotations

import random

# Seed used while the benchmark was written, and one kept aside so a
# claimed gain can be re-checked on an order nobody tuned against.
DEFAULT_SEED = 1
HELD_OUT_SEED = 7919

WORKLOADS: dict[str, dict] = {
    "elt_chain": {
        "queries": [
            "q73_materialized_chain",
            "q74_assertion_runner",
        ],
        "why": "The paper's own surface: the 15-model chain through "
               "ModelRegistry.run, its marts materialized through "
               "sources.txn overwrites, and the assertion stage. Work "
               "goes to plans, Catalyst optimization of large chain "
               "plans, as-of joins and windows.",
    },
    "vector_dedup": {
        "queries": [
            "q92_ann_recall_clustered",
            "q96_semantic_dedup_trained",
        ],
        "why": "LLM-data operators: a trained IVF index built eagerly "
               "with overlapped legs, and trained semantic dedup. "
               "Shuffle-heavy execution; it never calls plans, so a "
               "chain change must not move it.",
    },
    "ingest_stream": {
        "queries": [
            "q75_time_travel",
            "q36_stream_merge_upsert",
            "q69_stream_rest_ingest",
        ],
        "why": "Writes mixed with reads: txn appends, replaces and "
               "time-travel reads, the foreachBatch merge-upsert and the "
               "rate-limited REST poller. txn does different work here "
               "than the mart overwrites of elt_chain.",
    },
}

# Queries of the original lists a pass has no time for, with their cost
# per pass (query + output check, 4-core host):
# - elt_chain: q41_model_chain (4.7 s), q42_race_control_chain (1.8 s)
#   and q43_final_f1 (8.0 s), the chain again without its marts or
#   checks; q70_fct_driver_laps (9.6 s, the chain plus an as-of mart);
#   q76_incremental_load (6.1 s, incremental chain rebuild).
# - vector_dedup: q21_minhash_lsh (15.2 s, 7 s of it re-executing for
#   the check), q24_cosine_topk (17.1 s; eager index builds and overlap
#   legs, both still measured on q92).
# - ingest_stream: q82_stats_pruned_read (17.3 s, stats-pruned reads),
#   q54_stream_static_join (9.8 s, stream-static join),
#   q14_ingest_write_path (3.4 s, txn appends and reads q75 also makes).

# Which end-to-end metric each per-layer metric should move, and on
# which workload it does the most work. A workload listed under
# "zero_on" never reaches the layer: the prediction there is no change.
PREDICTIONS: dict[str, dict] = {
    "session.start_s": {"moves": "setup_s", "on": "all"},
    "session.warmup_s": {"moves": "setup_s", "on": "all"},
    "queries.build_s": {"moves": "wall_s", "on": "vector_dedup"},
    "queries.exec_s": {"moves": "wall_s", "on": "vector_dedup"},
    "plans.run_s": {"moves": "wall_s", "on": "elt_chain",
                    "zero_on": ["vector_dedup"]},
    "plans.run_calls": {"moves": "wall_s", "on": "elt_chain",
                        "zero_on": ["vector_dedup"]},
    "plans.assert_s": {"moves": "wall_s", "on": "elt_chain",
                       "zero_on": ["vector_dedup"]},
    "sources.commit_s": {"moves": "wall_s stored_mb",
                         "on": "ingest_stream elt_chain"},
    "sources.commits": {"moves": "wall_s stored_mb",
                        "on": "ingest_stream elt_chain"},
    "sources.read_table_s": {"moves": "wall_s", "on": "ingest_stream"},
    "concurrency.overlap_s": {"moves": "wall_s", "on": "vector_dedup"},
    "concurrency.legs": {"moves": "wall_s", "on": "vector_dedup"},
    "streaming.batches": {"moves": "wall_s", "on": "ingest_stream"},
    "streaming.add_batch_ms": {"moves": "wall_s", "on": "ingest_stream"},
    "streaming.planning_ms": {"moves": "wall_s", "on": "ingest_stream"},
    "streaming.wal_ms": {"moves": "wall_s", "on": "ingest_stream"},
    "catalyst.analysis_ms": {"moves": "wall_s", "on": "elt_chain"},
    "catalyst.optimization_ms": {"moves": "wall_s", "on": "elt_chain"},
    "catalyst.planning_ms": {"moves": "wall_s", "on": "elt_chain"},
    "codegen.compile_ms": {"moves": "wall_s", "on": "elt_chain"},
    "codegen.compiles": {"moves": "wall_s", "on": "elt_chain"},
    "exec.jobs": {"moves": "wall_s cpu_s", "on": "vector_dedup"},
    "exec.stages": {"moves": "wall_s cpu_s", "on": "vector_dedup"},
    "exec.tasks": {"moves": "wall_s cpu_s", "on": "vector_dedup"},
    "exec.task_run_s": {"moves": "wall_s cpu_s", "on": "vector_dedup"},
    "exec.task_cpu_s": {"moves": "cpu_s", "on": "vector_dedup"},
    "exec.gc_s": {"moves": "wall_s jvm.peak_rss_mb",
                  "on": "vector_dedup"},
    "exec.shuffle_write_mb": {"moves": "wall_s", "on": "vector_dedup"},
    "exec.spill_mb": {"moves": "wall_s jvm.peak_rss_mb",
                      "on": "vector_dedup"},
    "exec.failed_tasks": {"moves": "wall_s", "on": "vector_dedup"},
    "exec.job_busy_s": {"moves": "wall_s", "on": "vector_dedup"},
    "exec.driver_gap_s": {"moves": "wall_s",
                          "on": "ingest_stream elt_chain"},
    "exec.ungrouped_jobs": {"moves": "none (attribution; 0 once overlap "
                                     "legs inherit the job group)",
                            "on": "vector_dedup"},
}


def query_order(workload: str, seed: int) -> list[str]:
    """The workload's queries in the order ``seed`` picks."""
    names = list(WORKLOADS[workload]["queries"])
    random.Random(seed).shuffle(names)
    return names
