"""One benchmark run inside a fresh process (started by ``run.py``).

Usage: python3 perfbench/worker.py <args-json> <result-path>

Runs the workload, folds its records into the end-to-end metrics (and,
traced, the per-layer metrics), writes the result JSON and the run's
operation log under ``.perfbench_out/``.
"""

from __future__ import annotations

import json
import os
import sys
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path[:0] = [CHECKOUT]

from perfbench import eventlog, harness, workloads  # noqa: E402

MODULES = ("relational", "textops", "dedup", "similarity", "clustering",
           "analytics", "subqueries", "sketches", "zonal", "multimodal",
           "curation")
WORKLOADS = {"inventory-warm": (workloads.inventory_inputs,
                                 workloads.inventory_warm),
             "spatial-report": (workloads.spatial_inputs,
                                workloads.spatial_report)}


def context(args: dict) -> SimpleNamespace:
    """Where a run's inputs and scratch files live, under its root."""
    root = args["root"]
    return SimpleNamespace(
        seed=args["seed"], seconds=args["seconds"], trace=args["trace"],
        root=root, sf_dir=os.path.join(root, "data"),
        fixture_dir=os.path.join(root, "fixtures"),
        stream_in=os.path.join(root, "stream", "incoming"),
        oracle_cache=os.path.join(CHECKOUT, ".perfbench_cache", "oracles"))


def fastest(timed: list[dict]) -> dict[str, float]:
    """Each operation's fastest latency over the run's passes: a pass
    that met a GC pause or a co-tenant burst does not move it."""
    best: dict[str, float] = {}
    for r in timed:
        if r["ok"]:
            op = r["id"].split("#")[0]
            best[op] = min(best.get(op, r["wall_s"]), r["wall_s"])
    return best


def op_mean(res: dict) -> float:
    """Weighted mean of the operations' fastest latencies (equal weights
    unless the workload gives them)."""
    best = fastest(res["timed"])
    w = {op: res.get("weights", {}).get(op, 1.0) for op in best}
    return sum(w[op] * best[op] for op in best) / sum(w.values())


def end_to_end(res: dict, setup_s: float) -> dict:
    return {"setup_s": setup_s, "op_mean_s": op_mean(res)}


def per_layer(res: dict, ops: harness.Ops, log_dir: str,
              setup_s: float) -> dict:
    """Per-layer metrics over the measured operations, per pass."""
    timed = res["timed"]
    passes = max(1, res["detail"]["passes"])
    folded = eventlog.fold_dir(log_dir)
    ids = {r["id"] for r in timed}
    out: dict[str, float] = {}

    def add(name, v):
        out[name] = out.get(name, 0.0) + v

    for m in MODULES:
        for k in ("operators.{}.construct_s", "operators.{}.construct_jobs",
                  "catalyst.{}.plan_s", "exec.{}.exec_s", "exec.{}.tasks",
                  "exec.{}.executor_cpu_s", "exec.{}.shuffle_write_mb"):
            out[k.format(m)] = 0.0
    for r in timed:
        if r["kind"] != "query" or r["layer"] not in MODULES:
            continue
        m, ex = r["layer"], folded.get((r["id"], "execute"), {})
        plan = r.get("plan_s", 0.0)
        add(f"operators.{m}.construct_s", ops.phase_s(r["id"], "construct"))
        add(f"operators.{m}.construct_jobs",
            folded.get((r["id"], "construct"), {}).get("jobs", 0))
        add(f"catalyst.{m}.plan_s", plan)
        add(f"exec.{m}.exec_s",
            max(0.0, ops.phase_s(r["id"], "execute") - plan))
        add(f"exec.{m}.tasks", ex.get("tasks", 0))
        add(f"exec.{m}.executor_cpu_s", ex.get("cpu_s", 0))
        add(f"exec.{m}.shuffle_write_mb", ex.get("shuffle_write_mb", 0))
    rows = [v for (op, _), v in folded.items() if op in ids]
    for name, field in (("exec.jobs", "jobs"),
                        ("exec.task_run_s", "run_s"),
                        ("exec.deserialize_s", "deserialize_s"),
                        ("exec.scheduler_delay_s", "scheduler_delay_s"),
                        ("exec.spill_mb", "spill_mb"),
                        ("functions.python_udf_s", "python_udf_s"),
                        ("functions.python_rows", "python_rows")):
        out[name] = sum(v[field] for v in rows)
    # pipeline steps (spatial-report)
    for name, layer in (("plans.etl_s", "plans.etl"),
                        ("plans.golden_s", "plans.golden"),
                        ("operators.zonal.zonal_s", "operators.zonal"),
                        ("sources.write_s", "sources.write")):
        out[name] = sum(r["wall_s"] for r in timed if r["layer"] == layer)
    out["sources.gpkg_ingest_s"] = sum(
        s["end"] - s["start"] for s in ops.spans
        if s["name"] == "sources.ingest_gpkg" and s["op"] in ids)
    out = {k: v / passes for k, v in out.items()}
    # the spatial-join operators alone (spatial-report's probes)
    for name, op in (("operators.spatial_join.union_agg_s", "union_agg"),
                     ("operators.spatial_join.grid_join_s", "grid_join")):
        out[name] = sum(r["wall_s"] for r in res["untimed"]
                        if r["id"] == f"{op}#probe")
    # memo traffic: builds are paid by the cold pass, the loop only hits
    cold = [r["memo"] for r in res["untimed"]]
    warm = [r["memo"] for r in timed]
    out["memo.cold_builds"] = sum(x["cold_builds"] for x in cold)
    out["memo.cold_build_s"] = sum(x["cold_build_s"] for x in cold)
    out["memo.disk_hits"] = sum(x["disk_hits"] for x in cold + warm)
    out["memo.timed_builds"] = sum(x["cold_builds"] for x in warm) / passes
    hits = sum(x["hits"] for x in warm)
    looked = sum(x["hits"] + x["cold_builds"] + x["disk_hits"] for x in warm)
    out["memo.hits"] = hits / passes
    out["memo.hit_ratio"] = hits / looked if looked else 0.0
    # streaming progress (the cold pass's admission drain)
    batches = res["detail"].get("batches", [])
    for name, key in (("streaming.latest_offset_ms", "latestOffset"),
                      ("streaming.query_planning_ms", "queryPlanning"),
                      ("streaming.add_batch_ms", "addBatch"),
                      ("streaming.wal_commit_ms", "walCommit"),
                      ("streaming.rows_read", "rows")):
        out[name] = float(sum(b[key] for b in batches))
    out["streaming.admitted_rows"] = float(res["detail"].get("admitted", 0))
    build_s, warm_s = res["setup"]
    out["session.build_s"] = build_s
    out["catalog.warm_s"] = warm_s
    out["interpreter.start_s"] = setup_s - build_s - warm_s
    out["trace.op_mean_s"] = op_mean(res)
    out["trace.cold_s"] = res["cold_s"]
    return out


def trace_gpkg_ingest(ops: harness.Ops) -> None:
    """Time the ETL's GeoPackage reads as their own span."""
    from spatial_data_engineering_spark.plans import etl

    orig = etl.ingest_gpkg

    def timed(*a, **kw):
        with ops.span("sources.ingest_gpkg"):
            return orig(*a, **kw)
    etl.ingest_gpkg = timed


def main() -> None:
    args = json.loads(sys.argv[1])
    result_path = sys.argv[2]
    ticks = harness.cpu_ticks()
    ctx = context(args)
    ctx.mark = lambda what: print(
        f"perfbench: {what} at {time.time() - args['t_launch']:.1f} s",
        file=sys.stderr, flush=True)
    ops = harness.Ops(trace=bool(args["trace"]))
    if ops.trace:
        trace_gpkg_ingest(ops)
    res = WORKLOADS[args["workload"]][1](ctx, ops)
    setup_s = ops.ready_at - args["t_launch"]
    failed_ops = [f"{r['id']}: {r['error']}" for r in
                  res["untimed"] + res["timed"] if not r["ok"]]
    failures = failed_ops + res["failures"]
    attempted = len(res["untimed"]) + len(res["timed"])
    if ops.trace:
        metrics = per_layer(res, ops, os.path.join(ctx.root, "eventlog"),
                            setup_s)
    else:
        metrics = end_to_end(res, setup_s)
    result = {
        "correct": not failures, "attempted": attempted,
        "failed": min(attempted, len(failures)), "metrics": metrics,
        "failures": failures,
        "detail": {**res["detail"], "cold_s": res["cold_s"],
                   "setup_s": setup_s, "build_warm_s": res["setup"]},
        "host": harness.host_record(ticks),
    }
    out_dir = os.path.join(CHECKOUT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    log = os.path.join(out_dir, f"{args['workload']}-seed{args['seed']}"
                       f"-trace{args['trace']}.json")
    with open(log, "w") as fh:
        json.dump({"args": args, "result": result,
                   "weights": res.get("weights", {}),
                   "ops": res["untimed"] + res["timed"],
                   "spans": ops.spans}, fh, default=str)
    with open(result_path, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
