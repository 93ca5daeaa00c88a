"""The benchmark's workloads.  Each returns a result record: operation
latencies and phase times for the end-to-end metrics, and the checks'
failures by name."""

from __future__ import annotations

import gc
import os
import random
import time

from . import checks, datagen
from .harness import Ops, setup

# --------------------------------------------------------------------------
# query selection


def registry():
    """[(module, name, fn)] over the whole registry, and the oracles."""
    from spatial_data_engineering_spark.queries_registry import (
        _modules, all_oracles)

    rows = [(m.__name__.rsplit(".", 1)[1], name, fn)
            for m in _modules() for name, fn in m.QUERIES.items()]
    return rows, all_oracles()


SAMPLE_SIZE = 16

# Registry queries the draw skips, each with the reason.  A query here
# still belongs to its module's size (and so to the weights); it is only
# never timed.
EXCLUDED = {
    "q141_unigram_logprob": (
        "differs from its oracle on about one seed in six: DuckDB's "
        "ROUND(double, 9) rounds a per-document nll just below a half-way "
        "point (3.4367709674999998) up, Spark rounds it down"),
}


def inventory_sample(rows) -> list[tuple]:
    """A fixed sample of ``SAMPLE_SIZE`` registry queries, stratified by
    operator module: each module gets slots in proportion to its number
    of queries (largest remainder, at least one), filled by a fixed draw.
    Each query carries a weight, its module's share of the registry over
    the module's slots, so the weighted mean latency estimates the mean
    over the whole registry.  Fixed, not seed-drawn: a seed-drawn
    composition moves the mean by 10-15% between seeds, which would
    drown any change a later commit makes.  Queries in ``EXCLUDED`` are
    not drawn.  Returns (module, name, fn, weight) rows."""
    by_mod: dict[str, list] = {}
    for r in rows:
        by_mod.setdefault(r[0], []).append(r)
    quota = {m: SAMPLE_SIZE * len(qs) / len(rows) for m, qs in by_mod.items()}
    slots = {m: max(1, int(q)) for m, q in quota.items()}
    while sum(slots.values()) < SAMPLE_SIZE:
        slots[max(quota, key=lambda m: (quota[m] - slots[m], m))] += 1
    while sum(slots.values()) > SAMPLE_SIZE:
        slots[min((m for m in quota if slots[m] > 1),
                  key=lambda m: (quota[m] - slots[m], m))] -= 1
    rng = random.Random("perfbench-inventory")
    out = []
    for mod in sorted(by_mod):
        weight = len(by_mod[mod]) / len(rows) / slots[mod]
        qs = sorted((r for r in by_mod[mod] if r[1] not in EXCLUDED),
                    key=lambda r: r[1])
        out += [(*r, weight) for r in rng.sample(qs, slots[mod])]
    return out


# --------------------------------------------------------------------------
# shared pieces


def warm_tables(spark, sf_dir: str) -> None:
    """The catalog's own warm-up: resolve and cache every relation."""
    from spatial_data_engineering_spark.catalog import TABLES, load

    for t in TABLES:
        load(spark, sf_dir, t)


def _loop(ctx, run_pass, min_passes: int) -> tuple[list, int]:
    """Closed loop of whole passes, at least ``min_passes``, until
    ``seconds`` have elapsed.  The cyclic garbage collector runs between
    passes, not inside a timed operation."""
    timed, t0, k = [], time.perf_counter(), 0
    while k < min_passes or time.perf_counter() - t0 < ctx.seconds:
        gc.collect()
        gc.disable()
        try:
            timed += run_pass(k)
        finally:
            gc.enable()
        k += 1
    return timed, k


def _check_queries(ctx, names, results, oracles, data_fp) -> list[str]:
    cache = checks.OracleCache(ctx.sf_dir, data_fp, ctx.oracle_cache)
    out = []
    for name in names:
        got = results.get(name)
        if got is None:
            continue  # the failed operation is already counted
        err = checks.check_query(cache, name, oracles.get(name), got)
        if err:
            out.append(err)
    return out


def _data_fp(ctx) -> str:
    return datagen.fingerprint(
        [os.path.join(ctx.sf_dir, f"{t}.parquet") for t in datagen.TABLES])


# --------------------------------------------------------------------------
# workloads


def inventory_inputs(ctx) -> None:
    """The ten registry tables, then the delta files in arrival order
    (one directory per micro-batch, mtimes spaced in file order)."""
    import pandas as pd

    datagen.write_tables(ctx.sf_dir, ctx.seed)
    base = pd.read_parquet(os.path.join(ctx.sf_dir, "documents.parquet"))
    mtime = time.time() - 3600
    for i, pdf in enumerate(datagen.stream_deltas(ctx.seed,
                                                  base.text.tolist())):
        path = os.path.join(ctx.stream_in, f"f{i}", "part-0.parquet")
        os.makedirs(os.path.dirname(path))
        pdf.to_parquet(path, index=False)
        os.utime(path, (mtime + i * 10, mtime + i * 10))


def _read_deltas(ctx) -> list:
    import pandas as pd

    return [pd.read_parquet(os.path.join(ctx.stream_in, f"f{i}",
                                         "part-0.parquet"))
            for i in range(datagen.STREAM_FILES)]


def inventory_warm(ctx, ops: Ops) -> dict:
    """One long-lived session over the registry tables.  The cold pass
    runs the fixed stratified sample once in seed order, collecting the
    rows the checks compare (it pays every memo build, codegen and
    Python-worker start).  Traced runs then store the base signatures
    and admit the seed's delta file into the document corpus through
    ``admit_stream``; only per-layer metrics read the drain, so untraced
    runs spend that time on the loop instead.
    Closed-loop passes over the sample through the noop sink follow, at
    least two, where every memo lookup is a hit."""
    rows, oracles = registry()
    sample = inventory_sample(rows)
    random.Random(ctx.seed).shuffle(sample)
    spark, build_warm = setup(ops, "perfbench-inventory", ctx.root,
                              lambda spark: warm_tables(spark, ctx.sf_dir))
    ctx.mark("set up")
    results, first = {}, []
    t0 = time.perf_counter()
    for mod, name, fn, _ in sample:
        rec, results[name] = ops.run_query(f"{name}#cold", mod, fn,
                                           ctx.sf_dir, collect=True)
        first.append(rec)
    stream = {"rec": None, "admitted": None, "batches": []}
    if ops.trace:
        with ops.span("streaming.base_signatures"):
            sigs, eh = _base_signatures(ctx, spark)
        stream = _admit(ctx, ops, spark, sigs, eh)
        first.append(stream["rec"])
    cold_s = time.perf_counter() - t0
    ctx.mark("cold pass done")
    # two passes at least: the metric takes each query's faster one
    timed, passes = _loop(ctx, lambda k: [
        ops.run_query(f"{name}#{k}", mod, fn, ctx.sf_dir)[0]
        for mod, name, fn, _ in sample], min_passes=2)
    ctx.mark("loop done")
    failures = _check_queries(ctx, [r[1] for r in sample], results, oracles,
                              _data_fp(ctx))
    if stream["rec"] and stream["rec"]["ok"]:
        err = _check_admission(ctx, spark, _read_deltas(ctx),
                               stream["admitted"])
        if err:
            failures.append(err)
    ctx.mark("checked")
    spark.stop()
    return {"setup": build_warm, "cold_s": cold_s, "untimed": first,
            "timed": timed, "failures": failures,
            "weights": {name: w for _, name, _, w in sample},
            "detail": {"queries": len(sample), "passes": passes,
                       "batches": stream["batches"],
                       "admitted": len(stream["admitted"] or [])}}


def _base_signatures(ctx, spark) -> tuple:
    """The admission base's stored signature tables, kept apart from the
    memo directory the sample's queries built into."""
    from spatial_data_engineering_spark.operators import dedup

    memo_root = os.environ["SPARK_GRAFT_PAIR_CACHE"]
    os.environ["SPARK_GRAFT_PAIR_CACHE"] = os.path.join(ctx.root, "stream",
                                                        "base_sigs")
    try:
        src = os.path.join(ctx.sf_dir, "documents.parquet")
        return (dedup.persisted_shingle_bands(spark, src),
                dedup.persisted_exact_hashes(spark, src))
    finally:
        os.environ["SPARK_GRAFT_PAIR_CACHE"] = memo_root


def _admit(ctx, ops: Ops, spark, sigs, eh) -> dict:
    """Drain the delta files through ``admit_stream``, one file per
    micro-batch, recording each batch's progress durations."""
    import json
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    from spatial_data_engineering_spark.catalog import load
    from spatial_data_engineering_spark.streaming.windows import admit_stream

    progress, done = [], threading.Event()

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            j = event.progress.json
            progress.append(json.loads(j() if callable(j) else j))

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            done.set()

    listener = Listener()
    spark.streams.addListener(listener)
    out_dir = os.path.join(ctx.root, "stream", "admitted")
    admitted = None
    try:
        with ops.op("stream#0", "stream", "streaming") as rec:
            stream = (spark.readStream.schema("doc_id long, text string")
                      .option("maxFilesPerTrigger", 1)
                      .option("recursiveFileLookup", "true")
                      .parquet(ctx.stream_in))
            with ops.phase("admit"):
                admit_stream(load(spark, ctx.sf_dir, "documents"), stream,
                             out_dir,
                             os.path.join(ctx.root, "stream", "ckpt"),
                             base_signatures=sigs, base_exact_hashes=eh)
        done.wait(10)  # the listener bus is asynchronous
    finally:
        spark.streams.removeListener(listener)
    if rec["ok"]:
        admitted = sorted(r.doc_id for r in
                          spark.read.parquet(out_dir).select("doc_id")
                          .collect())
    batches = [{"batch": p["batchId"], "rows": p.get("numInputRows", 0),
                **{k: p["durationMs"].get(k, 0) for k in (
                    "triggerExecution", "latestOffset", "queryPlanning",
                    "addBatch", "walCommit")}}
               for p in progress if p.get("numInputRows", 0) > 0]
    return {"rec": rec, "admitted": admitted, "batches": batches}


def _check_admission(ctx, spark, deltas, admitted) -> str | None:
    """Arrival-order reference: batch ``admit_delta`` file by file, each
    against the base plus everything admitted from earlier files (the
    stream's keep-first contract; one ``admit_delta`` over all files at
    once resolves near-dup chains across files differently)."""
    import pandas as pd

    from spatial_data_engineering_spark.catalog import load
    from spatial_data_engineering_spark.plans.curation import admit_delta

    base = load(spark, ctx.sf_dir, "documents").select("doc_id", "text")
    want: list[int] = []
    for pdf in deltas:
        eff = base
        if want:
            eff = base.unionByName(spark.createDataFrame(
                pd.concat(deltas).set_index("doc_id").loc[want]
                .reset_index()))
        want += [r.doc_id for r in admit_delta(eff, spark.createDataFrame(pdf))
                 .select("doc_id").collect()]
    if admitted != sorted(want):
        return (f"stream: admitted {len(admitted)} docs, arrival-order "
                f"admit_delta {len(want)}; first differences "
                f"{sorted(set(admitted) ^ set(want))[:5]}")
    return None


def spatial_inputs(ctx) -> None:
    datagen.write_spatial(ctx.fixture_dir, ctx.seed)


def spatial_report(ctx, ops: Ops) -> dict:
    """The paper's pipeline, one operation per step: GeoPackage/CSV ETL
    (materialized), the mangrove NDVI report, zonal mean elevation with
    the width-20 histogram, then the CSV report and a parquet write-back.
    Closed-loop runs of the pipeline in a fresh session for ``seconds``,
    at least one; the first is the cold run a scheduled job pays, and its
    outputs are checked.  Traced runs then time the two spatial-join
    operators alone (``_join_probes``)."""
    paths = datagen.spatial_paths(ctx.fixture_dir)

    def warm(spark):
        for name in ("lu", "landsat_pixels", "elevation_cells",
                     "admin_regions"):
            spark.read.parquet(paths[name])

    spark, build_warm = setup(ops, "perfbench-spatial", ctx.root, warm)
    ctx.mark("set up")
    outs = []

    def run_pass(k):
        recs, out = _pipeline(ctx, ops, spark, paths, str(k))
        outs.append(out)
        return recs

    timed, passes = _loop(ctx, run_pass, min_passes=1)
    ctx.mark("loop done")
    probes = _join_probes(ops, spark, paths) if ops.trace else []
    first = timed[:4]
    failures = []
    if all(r["ok"] for r in first):
        out = outs[0]
        err = checks.check_golden(out["report"],
                                  checks.golden_reference(ctx.fixture_dir))
        failures += ([err] if err else []) + _check_spatial(ctx, out)
    ctx.mark("checked")
    spark.stop()
    return {"setup": build_warm, "cold_s": sum(r["wall_s"] for r in first),
            "untimed": probes, "timed": timed, "failures": failures,
            "detail": {"passes": passes}}


def _zonal_inputs(spark, paths: dict):
    """Elevation cells as points and admin regions as polygons."""
    from pyspark.sql import functions as F

    from spatial_data_engineering_spark.functions.st_funcs import (
        st_geomfromtext, st_point)

    cells = (spark.read.parquet(paths["elevation_cells"])
             .filter(F.col("elevation_m").isNotNull())
             .withColumn("geom", st_point("lon", "lat")))
    regions = (spark.read.parquet(paths["admin_regions"])
               .withColumn("geom", st_geomfromtext("geom_wkt")))
    return cells, regions


def _zonal_join(cells, regions):
    from spatial_data_engineering_spark.operators.spatial_join import (
        grid_spatial_join)

    return grid_spatial_join(
        cells, regions, left_keys=["cell_x", "cell_y"],
        right_keys=["region_id"], predicate="intersects",
        cell=100.0 / datagen.ADMIN_SPLITS)


def _join_probes(ops: Ops, spark, paths: dict) -> list[dict]:
    """The two ``operators.spatial_join`` operators, each run alone
    through the noop sink on this run's inputs, outside the timed steps
    (in the pipeline both are fused into larger plans): the union
    aggregate dissolving every ``lu`` feature by category, as
    ``golden_report`` dissolves the mangrove ones, and the zonal step's
    grid join of the elevation cells onto the admin regions."""
    from spatial_data_engineering_spark.functions.st_funcs import (
        st_geomfromtext)
    from spatial_data_engineering_spark.operators.spatial_join import (
        union_agg)

    def dissolve():
        lu = spark.read.parquet(paths["lu"]).select(
            "KETERANGAN", st_geomfromtext("geom_wkt").alias("geom"))
        return union_agg(lu, ["KETERANGAN"])

    recs = []
    for op_id, make in (("union_agg#probe", dissolve),
                        ("grid_join#probe",
                         lambda: _zonal_join(*_zonal_inputs(spark, paths)))):
        with ops.op(op_id, "probe", "operators.spatial_join") as rec:
            with ops.phase("execute"):
                make().write.mode("overwrite").format("noop").save()
        recs.append(rec)
    return recs


def _pipeline(ctx, ops: Ops, spark, paths: dict, tag: str):
    from pyspark.sql import functions as F

    from spatial_data_engineering_spark.plans.etl import run_etl
    from spatial_data_engineering_spark.plans.golden import golden_report
    from spatial_data_engineering_spark.sources import (observed_write,
                                                        write_csv_report)

    out, recs = {}, []
    with ops.op(f"etl#{tag}", "step", "plans.etl") as rec:
        with ops.phase("execute"):
            view = run_etl(spark, paths["gpkg"], paths["csv"],
                           table_prefix="bench", materialize=True)
            out["linked_rows"] = view.count()
    recs.append(rec)
    with ops.op(f"golden#{tag}", "step", "plans.golden") as rec:
        with ops.phase("execute"):
            report_df = golden_report(spark, ctx.fixture_dir)
            out["report"] = {r["Metric"]: r["Value"]
                             for r in report_df.collect()}
    recs.append(rec)
    with ops.op(f"zonal#{tag}", "step", "operators.zonal") as rec:
        with ops.phase("execute"):
            zonal = (_zonal_join(*_zonal_inputs(spark, paths))
                     .groupBy("region_id")
                     .agg(F.avg("elevation_m").alias("mean_m"))
                     .localCheckpoint())  # read three times below
            out["zonal"] = {int(r["region_id"]): r["mean_m"]
                            for r in zonal.collect()}
            out["hist"] = {int(r["bin"]): int(r["count"]) for r in (
                zonal.groupBy(F.floor(F.col("mean_m") / 20).cast("int")
                              .alias("bin")).count().collect())}
    recs.append(rec)
    with ops.op(f"write#{tag}", "step", "sources.write") as rec:
        with ops.phase("execute"):
            out["csv_dir"] = os.path.join(ctx.root, "report", "summary")
            write_csv_report(report_df, out["csv_dir"])
            out["zonal_dir"] = os.path.join(ctx.root, "report", "zonal")
            out["written"] = observed_write(zonal, out["zonal_dir"])
    recs.append(rec)
    return recs, out


def _check_spatial(ctx, out: dict) -> list[str]:
    """Zonal means and histogram against the numpy reference, and the
    written CSV report and parquet write-back against what was shown."""
    import glob

    import pandas as pd

    ref = checks.zonal_reference(ctx.fixture_dir)
    errs = [checks.check_zonal(out["zonal"], ref)]
    if out["hist"] != checks.histogram(ref):
        errs.append(f"zonal: histogram {out['hist']} != "
                    f"{checks.histogram(ref)}")
    csv = pd.read_csv(glob.glob(os.path.join(out["csv_dir"], "*.csv"))[0],
                      dtype=str, keep_default_na=False)
    if dict(zip(csv.Metric, csv.Value)) != out["report"]:
        errs.append("write: CSV report differs from the collected report")
    back = pd.read_parquet(out["zonal_dir"])
    if (out["written"].get("n_rows") != len(back)
            or dict(zip(back.region_id, back.mean_m)) != out["zonal"]):
        errs.append("write: parquet write-back differs from the zonal means")
    return [e for e in errs if e]
