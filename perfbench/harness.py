"""Session set-up, operation timing and the traced run's instruments.

One operation is one thing a user waits for: a registry query, a pipeline
step, a streaming drain.  ``Ops`` times each one end to end; with tracing
on it also records spans (operation -> construct / plan / execute / step
children), tags every Spark job with its operation and phase so the event
log can be folded per operation, and counts memo builds, hits and disk
reads per operation.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from pyspark.sql import SparkSession

OP_PROP = "perfbench.op"
PHASE_PROP = "perfbench.phase"


def driver_heap() -> str:
    """Driver heap from physical memory: a quarter of RAM, 1-6 GiB.  The
    package default (32g) lets ParallelGC grow past RAM on small hosts,
    and the JVM shares the box with Python workers and Arrow buffers."""
    kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    mb = max(1024, min(6144, kb // 1024 // 4))
    return f"{mb}m"


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, over all CPUs."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def host_record(since: tuple[int, int]) -> dict:
    """Heap, CPUs, load average, and the share of CPU time the hypervisor
    gave to other guests since ``since`` (a ``cpu_ticks`` reading): time
    metrics of a run with a high steal share read slow."""
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    steal, total = (b - a for a, b in zip(since, cpu_ticks()))
    return {"nproc": os.cpu_count(), "heap": os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM"), "loadavg": load,
        "steal_share": round(steal / total, 4) if total else 0.0}


def session_conf(root: str, trace: bool) -> dict:
    """Confs that keep every byte a run writes under its own root."""
    tmp = os.path.join(root, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.local.dir": os.path.join(root, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={os.path.join(root, 'derby')} "
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        "spark.executorEnv.PYTHONPATH": os.environ.get("PYTHONPATH", ""),
    }
    if trace:
        log_dir = os.path.join(root, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "true",
            "spark.eventLog.compression.codec": "zstd",
        })
    return conf


class Ops:
    """Operation timer and (when ``trace``) span / job / memo recorder."""

    def __init__(self, trace: bool):
        self.trace = trace
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._op: dict | None = None
        self.spark: SparkSession | None = None
        self.memo = MemoProbe() if trace else None
        self.ready_at: float | None = None

    # -- spans -------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        try:
            yield
        finally:
            self._stack.pop()
            if self.trace:
                self.spans.append({
                    "name": name, "parent": parent,
                    "op": self._op["id"] if self._op else None,
                    "start": t0, "end": time.perf_counter()})

    def _tag(self, op_id: str | None, phase: str | None) -> None:
        if self.trace and self.spark is not None:
            sc = self.spark.sparkContext
            sc.setLocalProperty(OP_PROP, op_id)
            sc.setLocalProperty(PHASE_PROP, phase)

    @contextmanager
    def phase(self, name: str):
        """A child span of the current operation; jobs launched inside
        it are tagged with its name."""
        self._tag(self._op["id"], name)
        try:
            with self.span(name):
                yield
        finally:
            self._tag(self._op["id"], None)

    @contextmanager
    def op(self, op_id: str, kind: str, layer: str):
        """One timed operation.  ``layer`` is the module the operation
        exercises (the per-layer metric prefix)."""
        rec = {"id": op_id, "kind": kind, "layer": layer, "ok": True}
        self._op = rec
        self._tag(op_id, None)
        before = self.memo.snapshot() if self.memo else None
        t0 = time.perf_counter()
        try:
            with self.span(op_id):
                yield rec
        except Exception as exc:
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            if self.memo:
                rec["memo"] = self.memo.delta(before)
            self._tag(None, None)
            self._op = None

    def run_query(self, op_id: str, layer: str, fn, sf_dir: str,
                  collect: bool = False):
        """construct -> execute one registry query.  The noop sink runs
        the whole plan without sink cost; ``collect`` returns the rows
        instead (used by the untimed passes whose results are checked).
        Traced runs then force the query's own plan OUTSIDE the timed
        region: the write planned the same analyzed plan again, so that
        time is taken back out of execute (``exec_s``) rather than
        counted twice."""
        out = None
        with self.op(op_id, "query", layer) as rec:
            with self.phase("construct"):
                df = fn(self.spark, sf_dir)
            with self.phase("execute"):
                if collect:
                    out = df.toPandas()
                else:
                    df.write.mode("overwrite").format("noop").save()
        if self.trace and rec["ok"]:
            t0 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            rec["plan_s"] = time.perf_counter() - t0
        return rec, out

    def phase_s(self, op_id: str, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["op"] == op_id and s["name"] == name)


class MemoProbe:
    """Counts memo traffic from the counters the operator modules already
    keep (cold builds, disk read-backs) plus the call count of each memo
    entry point, so hits = calls - cold builds - disk hits.  Cold-build
    seconds are the wall time of outermost memo calls that built."""

    BUILD = ("_PAIR_CACHE_COMPUTES", "_SIG_CACHE_COMPUTES",
             "_DOC_FRAME_COMPUTES", "_SSJ_CACHE_COMPUTES",
             "_SPAN_CACHE_COMPUTES")
    DISK = ("_PAIR_CACHE_DISK_HITS", "_SIG_CACHE_DISK_HITS",
            "_SPAN_CACHE_DISK_HITS")
    # memo entry points: every shared memo goes through one of these
    ENTRY = (("operators.dedup", "near_dup_pairs"),
             ("operators.dedup", "_doc_frame_memo"),
             ("operators.dedup", "ssj_candidate_pairs"),
             ("operators.dedup", "persisted_shingle_bands"),
             ("operators.dedup", "persisted_exact_hashes"),
             ("operators.clustering", "kmeans_fit_cached"),
             ("operators.similarity", "pq_codebooks_cached"))
    SESSION_CACHES = ("_sde_kmeans_fit_cache", "_sde_pq_codebook_cache")

    def __init__(self):
        import importlib
        import sys

        self.calls = 0
        self.cold_build_s = 0.0
        self._depth = 0
        self.spark = None
        self._dedup = importlib.import_module(
            "spatial_data_engineering_spark.operators.dedup")
        pkg = "spatial_data_engineering_spark."
        for modname, attr in self.ENTRY:
            orig = getattr(importlib.import_module(pkg + modname), attr)
            wrapped = self._wrap(orig)
            # rebind every module-level alias (``from .dedup import x``)
            for mod in list(sys.modules.values()):
                if (getattr(mod, "__name__", "").startswith(pkg)
                        and getattr(mod, attr, None) is orig):
                    setattr(mod, attr, wrapped)

    def _builds(self) -> tuple[int, int]:
        cold = sum(getattr(self._dedup, n) for n in self.BUILD)
        disk = sum(getattr(self._dedup, n) for n in self.DISK)
        if self.spark is not None:
            cold += sum(len(getattr(self.spark, a, None) or {})
                        for a in self.SESSION_CACHES)
        return cold, disk

    def _wrap(self, fn):
        def wrapped(*args, **kwargs):
            self.calls += 1
            outer = self._depth == 0
            cold0 = self._builds()[0] if outer else 0
            t0 = time.perf_counter()
            self._depth += 1
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth -= 1
                if outer and self._builds()[0] > cold0:
                    self.cold_build_s += time.perf_counter() - t0
        wrapped.__wrapped__ = fn
        return wrapped

    def snapshot(self) -> tuple:
        return (self.calls, *self._builds(), self.cold_build_s)

    def delta(self, before: tuple) -> dict:
        calls, cold, disk, secs = (a - b for a, b in
                                   zip(self.snapshot(), before))
        return {"calls": calls, "cold_builds": cold, "disk_hits": disk,
                "hits": max(0, calls - cold - disk), "cold_build_s": secs}


def build(app: str, root: str, trace: bool) -> SparkSession:
    from spatial_data_engineering_spark.session import build_session

    return build_session(app_name=app, cpus=os.cpu_count(),
                         extra_conf=session_conf(root, trace))


def setup(ops: Ops, app: str, root: str, warm):
    """Build the session and warm the inputs, once, and note the time
    set-up ended in ``ops.ready_at``.  Returns the session and the
    (build_s, warm_s) pair; the build pays the JVM launch."""
    t0 = time.perf_counter()
    with ops.span("setup"):
        with ops.span("session.build"):
            spark = build(app, root, ops.trace)
        t1 = time.perf_counter()
        ops.spark = spark
        if ops.memo:
            ops.memo.spark = spark
        with ops.span("catalog.warm"):
            warm(spark)
    ops.ready_at = time.time()
    return spark, (t1 - t0, time.perf_counter() - t1)
