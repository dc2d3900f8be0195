"""One fresh-process pass over a workload.

Builds the session, runs the benchmark's own copy of the warmup, then
runs each query of the workload once: ``spec.fn`` builds the frame
(eager work included) and the noop sink executes it. Outside the timed
region each result is fingerprinted for the oracle check. The record
(JSON) goes to ``--out``; ``run.py`` starts this process and reads it.

With ``--trace`` the pass also writes an uncompressed Spark event log,
sets one job group per query, times calls into the engine's public
module functions, and records Catalyst phases and codegen compiles of
every query execution; the per-query layer records are then built from
those.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys
import threading
import time
from collections import defaultdict

_CLK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc readers
# ---------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                children[int(f[1])].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) of
    ``root`` and every live descendant."""
    total = 0
    for pid in _descendants(root):
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _CLK


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass
    return total / 2**20


# ---------------------------------------------------------------------------
# warmup — the benchmark's own copy of bench.py's process-global warmup
# ---------------------------------------------------------------------------


def warmup(spark, data_dir: str) -> None:
    """Absorb process-global first-use costs (table schema reads, the
    Python worker fork, JVM-wide formatter singletons, generic first
    query machinery). Per-plan construction and codegen stay billed to
    each query."""
    from pyspark.sql import functions as F

    from formula1_data_pipeline_spark.queries import TABLES, load

    for df in load(spark, data_dir, *TABLES).values():
        df.write.format("noop").mode("overwrite").save()
    spark.range(64).repartition(4).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    spark.range(4).select(
        F.date_format(F.lit("2024-01-01").cast("timestamp"),
                      "yyyy-MM-dd").alias("d"),
        F.upper(F.lit("x")).alias("u"),
    ).write.format("noop").mode("overwrite").save()
    # a non-catalog plan of catalog-like shape (scan, distinct, agg)
    load(spark, data_dir, "nation")["nation"] \
        .select("n_regionkey").distinct() \
        .groupBy().count() \
        .write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# host calibration
# ---------------------------------------------------------------------------


def calibrate(spark) -> dict:
    """Best-of-three times of one fixed JVM-only job and one fixed
    pure-Python loop, taken after the pass so they cost it nothing."""
    def jvm_unit():
        spark.range(0, 4_000_000, 1, 4).selectExpr(
            "sum(hash(id, id * 7)) AS s").collect()

    def py_unit():
        acc = 0
        for i in range(1_000_000):
            acc = (acc + i * i) % 1_000_003
        return acc

    jvm_unit()  # compile once; the unit measures execution
    out = {}
    for key, fn in (("jvm_unit_s", jvm_unit), ("py_unit_s", py_unit)):
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        out[key] = best
    return out


# ---------------------------------------------------------------------------
# tracing probes (traced runs only)
# ---------------------------------------------------------------------------

_PKG = "formula1_data_pipeline_spark"

# (module, attribute, layer). Calls are timed where the attribute is
# looked up, so every module that imported the function by name is
# patched too. Nested calls into the same layer count once.
PROBES = (
    (f"{_PKG}.plans.registry", "ModelRegistry.run", "plans.run"),
    (f"{_PKG}.plans.assertions", "run_assertions", "plans.assert"),
    (f"{_PKG}.plans.assertions", "assertions_report", "plans.assert"),
    (f"{_PKG}.sources.txn", "txn_append", "sources.commit"),
    (f"{_PKG}.sources.txn", "txn_replace", "sources.commit"),
    (f"{_PKG}.sources.txn", "txn_overwrite", "sources.commit"),
    (f"{_PKG}.sources.txn", "txn_delete_keys", "sources.commit"),
    (f"{_PKG}.sources.txn", "txn_merge", "sources.commit"),
    (f"{_PKG}.sources.txn", "read_table", "sources.read_table"),
    (f"{_PKG}.concurrency", "overlap", "concurrency.overlap"),
)


class Probes:
    """Times calls into the engine's public functions per query."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._tls = threading.local()
        self.current: dict | None = None

    def install(self) -> None:
        import importlib

        for mod_name, attr, layer in PROBES:
            mod = importlib.import_module(mod_name)
            owner, name = mod, attr
            if "." in attr:
                cls, name = attr.split(".")
                owner = getattr(mod, cls)
            orig = getattr(owner, name)
            wrapped = self._wrap(orig, layer)
            setattr(owner, name, wrapped)
            if owner is mod:
                for other in list(sys.modules.values()):
                    if (getattr(other, "__name__", "").startswith(_PKG)
                            and getattr(other, name, None) is orig):
                        setattr(other, name, wrapped)

    def _wrap(self, fn, layer: str):
        probes = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if getattr(probes._tls, layer, False):
                return fn(*args, **kwargs)
            setattr(probes._tls, layer, True)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                setattr(probes._tls, layer, False)
                with probes._lock:
                    rec = probes.current
                    if rec is not None:
                        rec[f"{layer}_s"] = rec.get(f"{layer}_s", 0.0) + dt
                        rec[f"{layer}_calls"] = (
                            rec.get(f"{layer}_calls", 0) + 1)
                        if layer == "concurrency.overlap":
                            rec["concurrency.legs"] = (
                                rec.get("concurrency.legs", 0)
                                + len(args[1] if len(args) > 1
                                      else kwargs["legs"]))

        return wrapper


class QueryExecutionRecorder:
    """JVM ``QueryExecutionListener`` (through the py4j callback
    server) that keeps the Catalyst phase intervals of every finished
    query execution."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        self._record(func_name, qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self._record(func_name, qe)

    def _record(self, func_name, qe) -> None:
        phases = qe.tracker().phases()
        ev = {"func": str(func_name)}
        for p in ("analysis", "optimization", "planning"):
            opt = phases.get(p)
            if opt.isDefined():
                s = opt.get()
                ev[p] = (s.startTimeMs(), s.endTimeMs())
        with self._lock:
            self.events.append(ev)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _codegen(spark) -> tuple[int, float]:
    """(compiles so far, compile ms so far) from the JVM's
    CodegenMetrics histogram; exact while it holds under 1028
    samples, mean-scaled after that."""
    jvm = spark.sparkContext._jvm
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    n = hist.getCount()
    snap = hist.getSnapshot()
    if n <= snap.size():
        return n, float(jvm.java.util.Arrays.stream(snap.getValues()).sum())
    return n, snap.getMean() * n


# ---------------------------------------------------------------------------
# the pass
# ---------------------------------------------------------------------------


def run_pass(args) -> dict:
    sys.path.insert(0, args.root)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from outcheck import fingerprint, oracle_key
    from workloads import query_order

    from formula1_data_pipeline_spark.queries import CATALOG
    from formula1_data_pipeline_spark.session import get_spark

    extra = {"spark.driver.extraJavaOptions":
             f"-Djava.io.tmpdir={args.jtmp}"}
    if args.trace:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{args.eventlog}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    rec: dict = {"workload": args.workload, "seed": args.seed,
                 "trace": args.trace}
    try:
        rec["host"] = {"loadavg_start": os.getloadavg()[0],
                       "nproc": os.cpu_count()}
    except OSError:
        rec["host"] = {"nproc": os.cpu_count()}
    t0 = time.time()
    spark = get_spark(app_name="perfbench", extra_conf=extra)
    t1 = time.time()
    warmup(spark, args.data)
    t2 = time.time()
    rec.update(session_start_s=t1 - t0, warmup_s=t2 - t1, warm_at=t2)
    sc = spark.sparkContext
    jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())

    probes = recorder = None
    if args.trace:
        from pyspark.java_gateway import ensure_callback_server_started

        probes = Probes()
        probes.install()
        ensure_callback_server_started(sc._gateway)
        recorder = QueryExecutionRecorder()
        spark._jsparkSession.listenerManager().register(recorder)

    queries = []
    check_s = 0.0
    names = (args.queries.split(",") if args.queries
             else query_order(args.workload, args.seed))
    for name in names:
        spec = CATALOG[name]
        q: dict = {"name": name, "oracle_key": None if spec.oracle is None
                   else oracle_key(spec.oracle, args.data)}
        if args.trace:
            probes.current = q
            sc.setJobGroup(name, name)
            q["codegen0"] = _codegen(spark)
        cpu0 = tree_cpu_s(jvm_pid)
        w0 = time.time()
        p0 = time.perf_counter()
        try:
            df = spec.fn(spark, args.data)
            writer = df.write.format("noop").mode("overwrite")
            p1 = time.perf_counter()
            w1 = time.time()
            writer.save()
            p2 = time.perf_counter()
            w2 = time.time()
        except Exception as exc:  # a failing query is counted, not fatal
            q["error"] = f"{type(exc).__name__}: {exc}"[:2000]
            queries.append(q)
            continue
        finally:
            q["cpu_s"] = tree_cpu_s(jvm_pid) - cpu0
        q.update(build_s=p1 - p0, exec_s=p2 - p1, wall_s=p2 - p0,
                 window_ms=(w0 * 1e3, w2 * 1e3), exec_from_ms=w1 * 1e3)
        if args.trace:
            q["codegen2"] = _codegen(spark)
            probes.current = None
            sc.setJobGroup(None, None)
        t_check = time.perf_counter()
        try:
            q["fingerprint"] = fingerprint(df.toPandas())
        except Exception as exc:  # a result that cannot be read fails
            q["error"] = f"check: {type(exc).__name__}: {exc}"[:2000]
        q["check_s"] = time.perf_counter() - t_check
        check_s += q["check_s"]
        queries.append(q)

    rec["queries"] = queries
    rec["check_s"] = check_s
    rec["stored_mb"] = dir_mb(args.tmp)
    rec["host"].update(calibrate(spark))
    rec["peak_rss_mb"] = peak_rss_mb(jvm_pid)
    if args.trace:
        # flush every listener callback and the event log to disk
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        rec["qe_events"] = list(recorder.events)
        spark.stop()
    return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--jtmp", required=True)
    ap.add_argument("--eventlog", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--queries", help="comma-separated catalog queries to "
                    "run instead of the workload's")
    args = ap.parse_args()
    rec = run_pass(args)
    with open(args.out, "w") as f:
        json.dump(rec, f)
    # run.py stops the JVM with the rest of this process group; an
    # orderly session shutdown would only add seconds to every run
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    main()
