"""SparkSession factory.

Defaults are tuned for the driver's local[32] harness but the settings are
the ones that matter on a real cluster too: AQE (runtime re-planning, skew
join splitting, partition coalescing), Arrow for every pandas-UDF boundary,
UTC session time zone (parity with the DuckDB oracle, whose timestamps are
UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _install_py4j_resolution_cache() -> None:
    """Cache py4j name-resolution handles (r17 opt, guide §5 — the
    driver is a shared resource).

    Every ``F.<fn>(...)`` in PySpark re-resolves the static `functions`
    class through TWO synchronous py4j REFLECTION round trips
    (JVMView.__getattr__ for the class, JavaClass.__getattr__ for the
    member) before the actual CALL — measured ~0.65 ms per round trip
    on this host, and reflection is 35-45% of a query construction's
    round trips (q183: 150 of 369).  Both resolutions are stable for
    the lifetime of a gateway: a JVM-view name that resolved to a CLASS
    cannot change (imports are add-only), and a static METHOD member
    handle is stateless.  So cache exactly those two result kinds on
    the resolving instance (the JVMView singleton / the now-cached
    JavaClass), and deliberately do NOT cache:

    - JavaPackage results (a later java_import can shadow a package
      name with a class);
    - static FIELD reads (JavaClass.__getattr__ returns the field's
      VALUE, which may mutate);
    - failures (a name can start existing after a java_import).

    Caches live on instances owned by their gateway, so a JVM restart
    gets fresh ones.  Driver-side only: plans, values and executor
    behavior are untouched — the same JVM objects are produced, just
    without re-asking the JVM what they are."""
    from py4j import java_gateway as jg

    if getattr(jg, "_sde_resolution_cache", False):
        return
    jg._sde_resolution_cache = True

    view_orig = jg.JVMView.__getattr__

    def view_cached(self, name):
        cache = self.__dict__.get("_sde_attr_cache")
        if cache is None:
            cache = self.__dict__.setdefault("_sde_attr_cache", {})
        hit = cache.get(name)
        if hit is not None:
            return hit
        out = view_orig(self, name)
        if isinstance(out, jg.JavaClass):
            cache[name] = out
        return out

    jg.JVMView.__getattr__ = view_cached

    cls_orig = jg.JavaClass.__getattr__

    def cls_cached(self, name):
        cache = self.__dict__.get("_sde_member_cache")
        if cache is None:
            cache = self.__dict__.setdefault("_sde_member_cache", {})
        hit = cache.get(name)
        if hit is not None:
            return hit
        out = cls_orig(self, name)
        if isinstance(out, (jg.JavaMember, jg.JavaClass)):
            cache[name] = out
        return out

    jg.JavaClass.__getattr__ = cls_cached


def get_cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    except ValueError:
        return os.cpu_count() or 4


def default_driver_mem() -> str:
    """About half of physical memory, at most 32g: the rest is headroom
    for Python workers and Arrow buffers.  ParallelGC grows the heap to
    its cap, so a fixed 32g heap got the JVM killed on a 15 GB host with
    no swap."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "32g"
    return f"{max(1, min(32, round(kb / 2 ** 21)))}g"


def build_session(app_name: str = "spatial_data_engineering_spark",
                  cpus: int | None = None,
                  shuffle_partitions: int | None = None,
                  extra_conf: dict | None = None) -> SparkSession:
    """Create (or reuse) the engine session.

    shuffle_partitions defaults to the core count: the 200 default is wrong
    in both directions (over-parallelized locally, under-parallelized at
    100 TB, where AQE coalescing + a larger initial number take over).
    """
    _install_py4j_resolution_cache()
    cpus = cpus or get_cpus()
    shuffle_partitions = shuffle_partitions or cpus
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # InferFiltersFromGenerate turns every explode(expr) into a
        # size(expr)>0 filter that predicate pushdown then drags BELOW
        # the doc_id spread onto the few-split scan — so expensive
        # generator inputs (the char-8-gram shingle transform, token
        # splits) are evaluated twice, once single-threaded before the
        # exchange.  Measured at sf0.1: q47 3.0s -> 1.6s, q87 2.7s ->
        # 1.6s, q79 2.3s -> 1.2s with the rule excluded.  Our generator
        # inputs are never-empty computed arrays (greatest(n,1)
        # sequences, split of non-null text), so the inferred filter
        # prunes nothing here; on a real cluster the scan has thousands
        # of splits but the double evaluation of the quadratic shingle
        # expression is still pure waste.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        # the generated-code (Janino) cache holds 100 compilation units
        # by default; a workload with hundreds of distinct query shapes
        # (this suite: 210) evicts continuously and recompiles every
        # WholeStageCodegen stage on every execution.  Compilation is
        # driver-side and serial per stage, so the thrash taxes exactly
        # the single-node resource that doesn't scale out.  Measured
        # (60-query subset x 3 passes, sf0.1): 75.8/48.8/40.2 s default
        # vs 52.9/39.7/35.7 s at 10k entries.  ~1000 cached classes is
        # tens of MB of metaspace, small next to the driver heap.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_mem()))
        # throughput GC for the single-JVM batch harness: the suite is
        # all short-lived allocation (UnsafeRow buffers, codegen), where
        # Parallel beats G1's pause-oriented heuristics by a few percent
        # (measured: warm suite pass 149s -> 144s).  defaultJavaOptions
        # so a user's extraJavaOptions still override.
        .config("spark.driver.defaultJavaOptions", "-XX:+UseParallelGC")
        # ContextCleaner reclaims localCheckpoint/broadcast/shuffle
        # blocks only when the JVM garbage-collects their weak refs,
        # and the default periodic GC interval (30min) is longer than
        # an entire suite pass — so a long session running hundreds of
        # distinct queries accumulates dead checkpoint blocks (the LSH
        # shingle tables are GB-sized at 10x bench scale) until storage
        # eviction and GC pressure tax late queries.  The round-10 sf1
        # probe measured q47 at 11s isolated vs 53s late-in-suite.  A
        # 1-minute periodic GC bounds the leak; the same setting is the
        # standard fix for long-lived drivers on real clusters.
        .config("spark.cleaner.periodicGC.interval", "1min")
        # PySpark 4's DataFrame-debugging context wraps EVERY DataFrame/
        # Column API call with call-site capture: getActiveSession + a JVM
        # conf.get + PySparkCurrentOrigin.set/clear (3-4 extra py4j round
        # trips per call) + a Python stack walk — pure driver-side error-
        # message garnish, zero effect on plans or results.  A 226-query
        # suite makes ~900 such calls per query construction; measured at
        # sf0.1: warm full-inventory construction pass 47.1s -> 30.3s with
        # the wrapper off (cProfile: the time was py4j socket round trips
        # under pyspark/errors/utils.py _with_origin).  Static conf, so it
        # must be set at build time.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
