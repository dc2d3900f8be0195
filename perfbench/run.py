#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout of the engine. The input tables are the
ones ``bench.py`` reads: ``$SPARK_GRAFT_SF_DIR``, else ``bench.py``'s own
default, the engine's read-only sf0.1 test data. The first run builds the
DuckDB oracle fingerprint of every workload query under
``perfbench/_work/``. Each run then starts passes, each in a fresh
Python + JVM process (``worker.py``), for as long as ``--seconds``
allows, and at least one. A pass sets up the
session, runs the workload's queries once each in the order the seed
picks, and checks every output against its oracle outside the timed
region.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` (query runs) and ``metrics``. Untraced (``--trace 0``) the
metrics are end-to-end medians over the passes: ``setup_s`` (process
start until the session is warm), ``wall_s`` (the pass), ``cpu_s`` (CPU
of the JVM and its Python workers during the pass) and ``stored_mb``
(bytes left in the run's temp dir). Traced (``--trace 1``) the metrics
are per-layer sums of one pass, with the JVM's peak resident memory
(``jvm.peak_rss_mb``), and the per-query layer records go to
``perfbench/_work/traces/``. The pass log on stderr names each query's
time, the host calibration and ``failed_frac``.
"""

from __future__ import annotations

import argparse
import ast
import ctypes
import functools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
PACKAGE = "formula1_data_pipeline_spark"
# a run must end within 180 s; leave room for the oracle check
RUN_LIMIT_S = 170.0

sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# build: oracle fingerprints
# ---------------------------------------------------------------------------


@functools.cache
def data_dir() -> str:
    """``$SPARK_GRAFT_SF_DIR``, else the default ``bench.py`` gives it,
    so the two always read the same tables."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    with open(os.path.join(ROOT, "bench.py")) as f:
        tree = ast.parse(f.read())
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call) and len(node.args) == 2
                and all(isinstance(a, ast.Constant) for a in node.args)
                and node.args[0].value == "SPARK_GRAFT_SF_DIR"):
            return node.args[1].value
    raise RuntimeError("bench.py gives SPARK_GRAFT_SF_DIR no default")


def _oracle_path(key: str) -> str:
    return os.path.join(WORK, "oracle", key + ".json")


def _oracle_for(name: str) -> dict:
    """Fingerprint one query's oracle on DuckDB and cache it."""
    from outcheck import oracle_fingerprint, oracle_key

    from formula1_data_pipeline_spark.queries import CATALOG, TABLES

    sql = CATALOG[name].oracle
    path = _oracle_path(oracle_key(sql, data_dir()))
    if not os.path.exists(path):
        log(f"oracle fingerprint for {name}")
        fp = oracle_fingerprint(sql, data_dir(), TABLES)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".part", "w") as f:
            json.dump(fp, f)
        os.replace(path + ".part", path)
    with open(path) as f:
        return json.load(f)


def build() -> None:
    """Fingerprint the oracle of every workload query, unless this
    checkout already has them."""
    marker = os.path.join(WORK, "oracle", "BUILT")
    if os.path.exists(marker):
        return
    from formula1_data_pipeline_spark.queries import CATALOG

    for wl in WORKLOADS.values():
        for name in wl["queries"]:
            if CATALOG[name].oracle is not None:
                _oracle_for(name)
    with open(marker, "w") as f:
        f.write(data_dir() + "\n")


def expected(rec: dict) -> dict[str, dict | None]:
    """Oracle fingerprints for the queries of a pass, by the key the
    worker derived from each query's oracle SQL (None: no oracle)."""
    out: dict[str, dict | None] = {}
    for q in rec["queries"]:
        key = q.get("oracle_key")
        if key is None:
            out[q["name"]] = None
        elif os.path.exists(_oracle_path(key)):
            with open(_oracle_path(key)) as f:
                out[q["name"]] = json.load(f)
        else:  # the oracle SQL changed since the build
            out[q["name"]] = _oracle_for(q["name"])
    return out


# ---------------------------------------------------------------------------
# one pass in a fresh process
# ---------------------------------------------------------------------------


_PR_SET_CHILD_SUBREAPER = 36


def _become_subreaper() -> None:
    """Make this process the reaper of every orphaned descendant, so
    processes that leave the worker's process group (PySpark's Python
    daemon calls ``setpgid(0, 0)``) or outlive their parent are still
    ours to find, stop and wait for."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): "
                      f"{os.strerror(err)}")


def _descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the parent tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        ppid = int(raw[raw.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _stop_all(proc: subprocess.Popen) -> None:
    """Stop the worker and every process it started (its JVM, the
    Python daemon and its forks), and wait until each has exited.
    Orphans are re-parented to this process, so when it has no child
    left nothing the pass started still runs."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 30
    while True:
        for pid in _descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.time() > deadline:
            raise RuntimeError("a process of the pass outlived SIGKILL")
        time.sleep(0.05)


def run_pass(workload: str, seed: int, trace: bool, timeout: float,
             tag: str, queries: list[str] | None = None) -> tuple[dict, str]:
    """One pass in a fresh worker process; ``queries`` replaces the
    workload's list (the test fixture is recorded that way)."""
    run_dir = os.path.join(WORK, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k)
            for k in ("tmp", "jtmp", "local", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    out = os.path.join(run_dir, "record.json")
    cpus = str(os.cpu_count() or 1)
    env = dict(os.environ,
               TMPDIR=dirs["tmp"],
               SPARK_LOCAL_DIRS=dirs["local"],
               SPARK_WAREHOUSE=os.path.join(dirs["tmp"], "spark-warehouse"),
               SPARK_GRAFT_CPUS=cpus,
               PYTHONPATH=os.pathsep.join(
                   p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", workload, "--seed", str(seed),
           "--trace", str(int(trace)), "--root", ROOT,
           "--data", data_dir(), "--out", out,
           *(f"--{k}={dirs[k]}" for k in ("tmp", "jtmp", "eventlog")),
           *(["--queries", ",".join(queries)] if queries else [])]
    with open(os.path.join(run_dir, "worker.log"), "w") as logf:
        t_spawn = time.time()
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            log(f"pass timed out after {timeout:.0f} s")
        finally:
            _stop_all(proc)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "worker.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"worker failed (rc={proc.returncode}):\n{tail}")
    with open(out) as f:
        rec = json.load(f)
    rec["setup_s"] = rec["warm_at"] - t_spawn
    return rec, run_dir


def check_outputs(rec: dict) -> int:
    """Count the queries of a pass that raised or failed the oracle
    check; log each failure."""
    from outcheck import matches

    want = expected(rec)
    failed = 0
    for q in rec["queries"]:
        if "error" in q:
            ok, detail = False, q["error"]
        else:
            ok, detail = matches(q["fingerprint"], want[q["name"]])
        if not ok:
            failed += 1
            log(f"FAILED {q['name']}: {detail}")
    return failed


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def traced_metrics(rec: dict, run_dir: str, workload: str,
                   seed: int) -> dict:
    import eventlog
    import layers

    logs = [os.path.join(run_dir, "eventlog", f)
            for f in os.listdir(os.path.join(run_dir, "eventlog"))]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    with open(logs[0]) as f:
        parsed = eventlog.parse(f)
    records = layers.query_layers(rec, parsed)
    metrics = layers.workload_layers(rec, records)
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    with open(os.path.join(WORK, "traces",
                           f"{workload}-seed{seed}.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "host": rec["host"],
                   "queries": records}, f, indent=1)
    for r in records:
        bad = [k for k, ok in r["checks"].items() if not ok]
        if bad:
            log(f"layer-sum check {bad} failed for {r['name']}: "
                f"wall {r['wall_s']:.3f} build {r['build_s']:.3f} "
                f"exec {r['exec_s']:.3f} "
                f"accounted {r['exec.exec_accounted_s']:.3f}")
    return metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"no {PACKAGE}/ beside perfbench/: run from an engine checkout")
        return 2
    if not os.path.isdir(data_dir()):
        log(f"no input tables at {data_dir()}: set SPARK_GRAFT_SF_DIR")
        return 2
    sys.path.insert(0, ROOT)
    _become_subreaper()
    # a terminated run still stops its pass (``run_pass``'s finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    build()

    t_run = time.time()
    passes, run_dirs = [], []
    last = 0.0
    try:
        while True:
            elapsed = time.time() - t_run
            if passes and (args.trace or elapsed + last > args.seconds):
                break
            t0 = time.time()
            rec, run_dir = run_pass(
                args.workload, args.seed, bool(args.trace),
                RUN_LIMIT_S - elapsed,
                f"{args.workload}-{args.seed}-{os.getpid()}-{len(passes)}")
            last = time.time() - t0
            passes.append(rec)
            run_dirs.append(run_dir)
        failed = sum(check_outputs(rec) for rec in passes)
        attempted = sum(len(rec["queries"]) for rec in passes)
        for rec in passes:
            log(f"pass: setup {rec['setup_s']:.2f} s, "
                + ", ".join(f"{q['name'].split('_')[0]} "
                            f"{q.get('wall_s', float('nan')):.2f}"
                            f"/{q.get('check_s', float('nan')):.2f}"
                            for q in rec["queries"])
                + f"; check {rec['check_s']:.2f} s"
                + f"; host {json.dumps(rec['host'])}")
        log(f"failed_frac {failed / attempted:.4f} "
            f"({failed} of {attempted} query runs)")
        if args.trace:
            metrics = {k: {"value": v, "unit": _unit(k)} for k, v in
                       traced_metrics(passes[0], run_dirs[0],
                                      args.workload, args.seed).items()}
        else:
            metrics = end_to_end(passes)
    finally:
        for d in run_dirs:
            shutil.rmtree(d, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def end_to_end(passes: list[dict]) -> dict:
    def med(values):
        return statistics.median(values)

    wall = [sum(q["wall_s"] for q in p["queries"] if "wall_s" in q)
            for p in passes]
    cpu = [sum(q["cpu_s"] for q in p["queries"]) for p in passes]
    return {
        "setup_s": {"value": med(p["setup_s"] for p in passes), "unit": "s"},
        "wall_s": {"value": med(wall), "unit": "s"},
        "cpu_s": {"value": med(cpu), "unit": "s"},
        "stored_mb": {"value": med(p["stored_mb"] for p in passes),
                      "unit": "MB"},
    }


def _unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
