#!/usr/bin/env python
"""The round gates, one runner.

    python scripts/gates.py sf1        [all | name ...]
    python scripts/gates.py partitions [all | admission | name ...]
    python scripts/gates.py invariants [all | name ...] [rNN]

* ``sf1`` — the driver's t2 check (row count, column names,
  order-insensitive values; ``tests/parity.compare``) against DuckDB on
  the 10x corpus ``testdata_sf1/`` (build it with
  ``scripts/make_sf1.py``).  The four quadratic-oracle queries use the
  ``SUBSET`` strategies below.
* ``partitions`` — each query under ``local[16]`` with 16 shuffle
  partitions and under ``local[5]`` with 7, at sf0.01; the canonical
  outputs must be equal.  ``admission`` proves the incremental admission
  plane the same way (``check_admission``).
* ``invariants`` — the plan sweep of ``plans.audit.audit_registry`` at
  the sf0.001 plan fixture (forbidden plan markers and the global-window
  table, one compile per query), the thirdway replay inventory, and a
  diff of the flag sets against the newest committed
  ``INVARIANTS_r*.json``.  Writes ``INVARIANTS.json`` and, given a round
  label, ``INVARIANTS_rNN.json``.

With no names, a gate checks the queries a change since its newest
committed artifact can move (``derive``, from ``git diff``): a query
module's own queries and those of every query module importing it, or the
whole inventory when a shared module changed.  ``all`` checks the whole
inventory.  Every session comes from ``session.build_session``, which
sizes the driver heap to the host.  ``sf1`` and ``partitions`` run each
query under ``TIMEOUT_S`` and cancel its job group when it is hit, so a
hang is a reported row, not a stalled run.  Exit 1 iff a gate fails.
"""

from __future__ import annotations

import ast
import contextlib
import glob
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))
# the Python workers import the package by name
os.environ["PYTHONPATH"] = (
    REPO + os.pathsep + os.environ.get("PYTHONPATH", ""))

PACKAGE = "spatial_data_engineering_spark"
REGISTRY = f"{PACKAGE}/queries_registry.py"
SF1 = os.path.join(REPO, "testdata_sf1")
SF_PARTITIONS = "/root/testdata/sf0.01"
SF_PLAN = "/root/testdata/sf0.001"
CONFIGS = ((16, 16), (5, 7))  # (cpus, shuffle partitions)
ARTIFACTS = {"sf1": "SF1_PARITY_r*.txt",
             "partitions": "PARTITION_INDEPENDENCE_r*.txt",
             "invariants": "INVARIANTS_r*.json"}
# wall-clock bound on one query's build, run and oracle
TIMEOUT_S = 600

# Subset strategies for the four quadratic-oracle queries (shared with
# tests/test_sf1_frontier.py).  q49's oracle is linear: run it whole.
# q50 ("output-slice"): Spark runs the full corpus and its output is
# filtered to pairs inside the slice the oracle runs on; valid because a
# pair's cosine depends on its own ids only.  q154/q156
# ("corpus-slice"): both engines run on the same stratified slice, for
# aggregates over all-pairs structure an output filter cannot undo.
# Slices stay at least sf0.1-sized: q50 4000 vectors (8e6 pairs), q154
# 4000 vectors, q156 12500 docs.
SUBSET = {
    "q49_cosine_topk": {"mode": "full"},
    "q50_embedding_neardup": {
        "mode": "output-slice", "table": "embeddings",
        "pred": "vec_id % 5 = 0",
        "post": "a_id % 5 = 0 AND b_id % 5 = 0"},
    "q154_knn_label_accuracy": {
        "mode": "corpus-slice", "table": "embeddings",
        "pred": "vec_id % 5 = 0"},
    "q156_minhash_estimate_audit": {
        "mode": "corpus-slice", "table": "documents",
        "pred": "doc_id % 4 = 0"},
}


# --- which queries a change can move -----------------------------------

def query_modules() -> dict[str, list[str]]:
    """{repo-relative module file: the queries it registers}."""
    from spatial_data_engineering_spark import queries_registry as reg

    return {os.path.relpath(mod.__file__, REPO): list(mod.QUERIES)
            for mod in reg._modules()}


def _import_graph() -> dict[str, set[str]]:
    """{package file: the package files it imports}, from the source."""
    files = sorted(glob.glob(f"{PACKAGE}/**/*.py", root_dir=REPO,
                             recursive=True))

    def target(parts):
        path = "/".join(parts)
        return next((p for p in (f"{path}.py", f"{path}/__init__.py")
                     if p in files), None)

    graph = {}
    for f in files:
        here = f.split("/")[:-1]
        deps = set()
        for node in ast.walk(ast.parse(open(os.path.join(REPO, f)).read())):
            if isinstance(node, ast.ImportFrom):
                base = here[:len(here) - node.level + 1] if node.level else []
                mod = base + (node.module.split(".") if node.module else [])
                names = [a.name for a in node.names]
            elif isinstance(node, ast.Import):
                mod, names = [], [a.name for a in node.names]
            else:
                continue
            for parts in [mod] + [mod + n.split(".") for n in names]:
                if parts and parts[0] == PACKAGE and (t := target(parts)):
                    deps.add(t)
        graph[f] = deps - {f}
    return graph


def derive(changed, modules: dict[str, list[str]]) -> list[str]:
    """The queries a change to the ``changed`` repo-relative files can
    move: the queries of each changed query module and of every query
    module importing it, directly or through other package files (not
    through the registry, which imports every query module only to list
    it).  A change to a shared file (any other package file, or the
    driver entry) moves them all.  Files outside the package move
    none."""
    everything = sorted(q for qs in modules.values() for q in qs)
    todo = [f for f in changed if f.startswith(PACKAGE + "/")
            or f == "__spark_entry__.py"]
    if any(f not in modules for f in todo):
        return everything
    graph = _import_graph()
    graph.pop(REGISTRY)
    hit: set[str] = set()
    while todo:
        f = todo.pop()
        if f not in hit:
            hit.add(f)
            todo += [g for g, deps in graph.items() if f in deps]
    return sorted(q for m in hit & set(modules) for q in modules[m])


def changed_since_artifact(gate: str) -> tuple[str, list[str]]:
    """(commit, files changed since it) for the commit that last wrote the
    gate's newest committed artifact; the working tree counts."""
    def git(*args):
        return subprocess.run(["git", *args], cwd=REPO, check=True,
                              capture_output=True, text=True).stdout.split()

    arts = git("ls-files", ARTIFACTS[gate])
    if not arts:
        raise SystemExit(f"no committed {ARTIFACTS[gate]}: name the queries "
                         "or pass `all`")
    newest = max(arts, key=lambda p: int(re.search(r"_r(\d+)\.", p)[1]))
    commit = git("log", "-1", "--format=%h", "--", newest)[0]
    return commit, git("diff", "--name-only", commit)


def select(gate: str, args: list[str], inventory: list[str]) -> list[str]:
    """The names to check: explicit names, ``all``, or derived."""
    if args == ["all"]:
        return sorted(inventory)
    if args:
        unknown = sorted(set(args) - set(inventory))
        if unknown:
            raise SystemExit(f"unknown or unoracled queries: {unknown}")
        return args
    commit, changed = changed_since_artifact(gate)
    names = [n for n in derive(changed, query_modules()) if n in inventory]
    print(f"{gate}: {len(names)} of {len(inventory)} queries derived from "
          f"{len(changed)} files changed since {commit}", flush=True)
    return names


# --- one session factory, one registry loop, one compare ---------------

def session(app: str, cpus: int | None = None,
            shuffle_partitions: int | None = None):
    from spatial_data_engineering_spark.session import build_session

    # no \r progress bars in captured artifact logs
    spark = build_session(app_name=app, cpus=cpus,
                          shuffle_partitions=shuffle_partitions,
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_each(spark, names, check):
    """Yield ``(i, name, seconds, result, error)`` for ``check(name)`` over
    ``names``, each in its own job group under ``TIMEOUT_S``.  At the bound
    the group's jobs are cancelled and the row reads TIMEOUT; driver-side
    work (DuckDB, pandas) cannot be cancelled, so the loop stops
    waiting for it instead."""
    from pyspark import InheritableThread

    sc = spark.sparkContext
    for i, name in enumerate(names, 1):
        box: dict = {}

        def work(name=name, box=box):
            sc.setJobGroup(name, name, interruptOnCancel=True)
            try:
                box["result"] = check(name)
            except Exception as ex:  # noqa: BLE001
                box["error"] = f"{type(ex).__name__}: {ex}"[:300]

        t0 = time.perf_counter()
        worker = InheritableThread(target=work, daemon=True)
        worker.start()
        worker.join(TIMEOUT_S)
        if worker.is_alive():
            sc.cancelJobGroup(name)
            worker.join(30)
            box = {"error": f"TIMEOUT after {TIMEOUT_S}s"}
        yield (i, name, time.perf_counter() - t0, box.get("result"),
               box.get("error"))


def canonical(pdf):
    """(sorted column names, sorted rows of canonical values): the form
    ``tests/parity.compare`` matches Spark and DuckDB results in."""
    from parity import _canon_frame

    return _canon_frame(pdf)


# --- sf1 ---------------------------------------------------------------

def materialize_slice(sf_dir: str, table: str, pred: str) -> str:
    """A schema-preserving stratified slice of one sf1 table, exposed as
    a full sf_dir (other tables symlinked) so registered callables run
    unchanged.  PyArrow filter/write keeps parquet logical types exactly.
    The marker holds the source table's file sizes and mtimes, so a
    regenerated corpus invalidates old slices."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from parity import TABLES

    tag = re.sub(r"\W+", "_", f"{table}_{pred}").strip("_")
    out = os.path.join(sf_dir, "_slices", tag)
    marker = os.path.join(out, "_SLICE_OK")
    src_tbl = os.path.join(sf_dir, f"{table}.parquet")
    parts = ([os.path.join(src_tbl, f) for f in sorted(os.listdir(src_tbl))]
             if os.path.isdir(src_tbl) else [src_tbl])
    ident = pred + "|" + "|".join(
        f"{os.path.basename(p)}:{os.path.getsize(p)}:"
        f"{int(os.path.getmtime(p))}"
        for p in parts if p.endswith(".parquet") or not os.path.isdir(p))
    if os.path.exists(marker) and open(marker).read() == ident:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if t == table:
            tbl = ds.dataset(src, format="parquet").to_table()
            col, mod, rem = re.fullmatch(
                r"(\w+) % (\d+) = (\d+)", pred).groups()
            keep = (tbl[col].to_numpy() % int(mod)) == int(rem)
            pq.write_table(tbl.filter(keep), dst)
        elif not os.path.exists(dst):
            os.symlink(os.path.abspath(src), dst)
    open(marker, "w").write(ident)
    return out


def duckdb_connection_sf1(sf_dir: str, slice_table=None, pred=None):
    """DuckDB connection with the corpus views; ``slice_table``/``pred``
    restrict one table to a stratified slice.  sf1 tables are
    Spark-written directories (``table.parquet/part-*``)."""
    import duckdb

    from parity import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        pat = f"{p}/*.parquet" if os.path.isdir(p) else p
        w = f" WHERE {pred}" if t == slice_table else ""
        con.sql(f"CREATE VIEW {t} AS SELECT * "
                f"FROM read_parquet('{pat}'){w}")
    return con


def gate_sf1(args) -> int:
    import __spark_entry__ as entry
    from parity import compare

    qs, oracles = entry.queries(), entry.oracle_sql()
    names = select("sf1", args, list(oracles))
    spark = session("sf1-parity", shuffle_partitions=16)

    def check(name):
        strat = SUBSET.get(name, {"mode": "whole"})
        sf = SF1
        if strat["mode"] == "corpus-slice":
            sf = materialize_slice(SF1, strat["table"], strat["pred"])
        df = qs[name](spark, sf)
        if strat["mode"] == "output-slice":
            df = df.filter(strat["post"])
        con = duckdb_connection_sf1(SF1, strat.get("table"), strat.get("pred"))
        compare(df, con.sql(oracles[name]).df(), name=name)
        return strat["mode"]

    failures = []
    for i, name, dt, mode, err in run_each(spark, names, check):
        tag = ("PASS" if mode in ("whole", None) else f"PASS({mode})"
               ) if err is None else f"FAIL  {err}"
        print(f"[{i}/{len(names)}] {name:40} ({dt:.1f}s) {tag}", flush=True)
        if err is not None:
            failures.append(name)
    print(f"\nsf1-parity: {len(names) - len(failures)} matched, "
          f"{len(failures)} failed; failures={failures}")
    spark.stop()
    return 1 if failures else 0


# --- partitions --------------------------------------------------------

@contextlib.contextmanager
def isolated_pair_cache(tag: str):
    """A fresh disk tier for memo, removed afterwards.  The tier persists
    by corpus fingerprint, so without a fresh root per config the second
    config would read back the first config's tables instead of
    recomputing them."""
    root = tempfile.mkdtemp(prefix=f"gates-cache-{tag}-")
    os.environ["SPARK_GRAFT_PAIR_CACHE"] = root
    try:
        yield
    finally:
        shutil.rmtree(root, ignore_errors=True)


def gate_partitions(args) -> int:
    if args == ["admission"]:
        return check_admission()
    import __spark_entry__ as entry

    qs = entry.queries()
    names = select("partitions", args, list(entry.oracle_sql()))
    runs = []
    for cpus, shuffle in CONFIGS:
        with isolated_pair_cache(str(shuffle)):
            spark = session(f"partitions-{shuffle}", cpus, shuffle)
            runs.append({name: (res, err) for _, name, _, res, err in
                         run_each(spark, names, lambda n, spark=spark:
                                  canonical(qs[n](spark, SF_PARTITIONS)
                                            .toPandas()))})
            spark.stop()
    bad = []
    for name in names:
        (a, err_a), (b, err_b) = runs[0][name], runs[1][name]
        err = err_a or err_b
        verdict = "identical" if err is None and a == b else (
            f"FAIL  {err}" if err else "MISMATCH")
        if verdict != "identical":
            bad.append(name)
        print(f"{name:36s} {verdict}")
    label = " vs ".join(f"local[{c}]/{s}" for c, s in CONFIGS)
    if bad:
        print(f"\npartition-order dependent or failed: {bad}")
        return 1
    print(f"\nall {len(names)} bit-identical under {label}")
    return 0


def _admission_fixture(root: str) -> None:
    """Deterministic base/delta corpora under ``root`` (pandas, so the
    fixture cannot depend on either config).  The delta plants every tie
    class: exact copies of base docs (+10M, reject), near-dups of base
    docs (+20M, reject), fresh docs (doc_id % 5 == 0, admit) and
    within-delta exact copies of fresh docs (+30M, the min(doc_id) copy
    survives)."""
    import pandas as pd

    docs = pd.read_parquet(
        os.path.join(SF_PARTITIONS, "documents.parquet"))[["doc_id", "text"]]
    base = docs[docs.doc_id % 5 != 0]
    fresh = docs[docs.doc_id % 5 == 0]
    exact = base[base.doc_id % 11 == 1].assign(
        doc_id=lambda d: d.doc_id + 10_000_000)
    near = base[base.doc_id % 11 == 2].assign(
        doc_id=lambda d: d.doc_id + 20_000_000,
        text=lambda d: d.text + " xqzt trailing probe token")
    tie = fresh[fresh.doc_id % 10 == 0].assign(
        doc_id=lambda d: d.doc_id + 30_000_000)
    delta = (pd.concat([fresh, exact, near, tie])
             .sort_values("doc_id").reset_index(drop=True))
    os.makedirs(root, exist_ok=True)
    base.to_parquet(os.path.join(root, "base.parquet"), index=False)
    delta.to_parquet(os.path.join(root, "delta.parquet"), index=False)
    # two stream batch files, mtime-ordered for deterministic batching
    half = len(delta) // 2
    for i, part in enumerate((delta.iloc[:half], delta.iloc[half:]), 1):
        if i == 2:
            time.sleep(1.1)
        os.makedirs(os.path.join(root, "incoming", f"f{i}"))
        part.to_parquet(os.path.join(root, "incoming", f"f{i}",
                                     "part-0.parquet"), index=False)


def _admitted(spark, root: str, tag: str):
    """(fresh-tables, stored-tables, stream) admitted sets under one
    session: sorted doc_ids, and sorted (batch, doc_id) pairs."""
    from spatial_data_engineering_spark.operators.dedup import (
        persisted_exact_hashes, persisted_shingle_bands)
    from spatial_data_engineering_spark.plans.curation import admit_delta
    from spatial_data_engineering_spark.streaming.windows import admit_stream

    base_path = os.path.join(root, "base.parquet")
    base = spark.read.parquet(base_path)
    delta = spark.read.parquet(os.path.join(root, "delta.parquet"))

    def ids(df):
        return tuple(sorted(r.doc_id for r in df.select("doc_id").collect()))

    fresh = ids(admit_delta(base, delta))
    stored = ids(admit_delta(
        base, delta,
        base_signatures=persisted_shingle_bands(spark, base_path),
        base_exact_hashes=persisted_exact_hashes(spark, base_path)))
    out_dir = os.path.join(root, f"admitted-{tag}")
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1)
              .option("recursiveFileLookup", "true")
              .parquet(os.path.join(root, "incoming")))
    admit_stream(base, stream, out_dir, os.path.join(root, f"ckpt-{tag}"))
    streamed = tuple(sorted((int(r.batch), int(r.doc_id))
                            for r in spark.read.parquet(out_dir).collect()))
    return fresh, stored, streamed


def check_admission() -> int:
    """The keep-first admission rule rests on min(doc_id) tie-breaks and
    hash joins only, so parallelism must not change which duplicate
    survives: ``admit_delta`` with freshly built and with stored base
    tables, and ``admit_stream`` per batch, under both configs."""
    root = tempfile.mkdtemp(prefix="gates-admission-")
    try:
        _admission_fixture(root)
        runs = []
        for cpus, shuffle in CONFIGS:
            spark = session(f"admission-{shuffle}", cpus, shuffle)
            runs.append(_admitted(spark, root, str(shuffle)))
            spark.stop()
        (fresh, stored, streamed), other = runs
        assert fresh == stored, (
            "stored base tables changed the admitted set vs fresh build")
        assert (fresh, stored) == other[:2], (
            "admit_delta admitted set depends on parallelism")
        assert streamed == other[2], (
            "admit_stream per-batch admitted set depends on parallelism")
        stream_ids = {d for _, d in streamed}
        assert stream_ids == set(fresh), (
            "stream admissions diverge from batch admit_delta over the "
            f"same delta: only_stream={sorted(stream_ids - set(fresh))[:5]} "
            f"only_batch={sorted(set(fresh) - stream_ids)[:5]}")
        label = " vs ".join(f"local[{c}]/{s}" for c, s in CONFIGS)
        print(f"admission: {len(fresh)} admitted — identical under "
              f"{label}, stored == fresh tables, stream == batch")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return 0


# --- invariants --------------------------------------------------------

def _thirdway_section() -> dict:
    import test_thirdway_inventory as tw

    flagged = tw.detect_shared_generator_queries()
    return {
        "n_flagged": len(flagged),
        "n_replays_registered": len(tw.REPLAYS),
        "flagged_without_replay": sorted(set(flagged) - set(tw.REPLAYS)),
        "flagged": {q: sorted(names) for q, names in sorted(flagged.items())},
        "replays": dict(sorted(tw.REPLAYS.items())),
    }


def _diff_section(payload: dict, label: str | None) -> dict:
    """Flag sets against the newest committed ``INVARIANTS_rNN.json``
    other than ``label``'s own.  New flags fail the gate; removed ones
    (among the checked queries) are recorded only."""
    arts = {int(m[1]): p for p in glob.glob(
        os.path.join(REPO, "INVARIANTS_r*.json"))
        if (m := re.search(r"INVARIANTS_r(\d+)\.json$", p))
        and f"r{m[1]}" != label}
    if not arts:
        return {"baseline": None, "note": "no previous artifact found"}
    with open(arts[max(arts)]) as fh:
        base = json.load(fh)
    checked = payload["checked"]
    cur_gw = set(payload["global_window_audit"]["global_windows"])
    base_gw = set(base["global_window_audit"]["global_windows"])
    cur_tw = set(payload["thirdway"]["flagged"])
    base_tw = set(base["thirdway"]["flagged"])
    return {
        "baseline": os.path.basename(arts[max(arts)]),
        "new_global_window_queries": sorted(cur_gw - base_gw),
        "removed_global_window_queries": sorted(
            (base_gw & checked) - cur_gw),
        "new_plan_marker_hits": sorted(
            set(payload["plan_invariants"]["hits"])
            - set(base["plan_invariants"]["hits"])),
        "new_thirdway_flagged": sorted(cur_tw - base_tw),
        "removed_thirdway_flagged": sorted(base_tw - cur_tw),
    }


def gate_invariants(args) -> int:
    label = next((a for a in args if re.fullmatch(r"r\d+", a)), None)
    args = [a for a in args if a != label]
    thirdway = _thirdway_section()  # static: fails before any JVM starts

    from spatial_data_engineering_spark.plans.audit import audit_registry
    from spatial_data_engineering_spark.queries_registry import all_queries

    names = select("invariants", args, list(all_queries()))
    # the LSH plan builds write the pair cache: keep it out of the repo
    with isolated_pair_cache("invariants"):
        spark = session("invariants")
        sweep = audit_registry(spark, SF_PLAN, names)
        spark.stop()
    gwa, markers = sweep["global_window_audit"], sweep["plan_invariants"]
    payload = {
        "sf": SF_PLAN,
        "n_checked": len(names),
        "ok": None,
        "plan_invariants": markers,
        "global_window_audit": {k: gwa[k] for k in
                                ("n_flagged", "flagged", "global_windows")},
        "thirdway": thirdway,
    }
    diff = _diff_section(payload | {"checked": set(names)}, label)
    payload["diff_vs_previous"] = diff
    payload["ok"] = (
        not markers["hits"] and not gwa["flagged"] and not markers["errors"]
        and not thirdway["flagged_without_replay"]
        and not diff.get("new_global_window_queries")
        and not diff.get("new_plan_marker_hits"))
    outs = ["INVARIANTS.json"] + ([f"INVARIANTS_{label}.json"] if label else [])
    for out in outs:
        with open(os.path.join(REPO, out), "w") as fh:
            json.dump(payload, fh, indent=1)
    print(json.dumps({"n_checked": len(names), "ok": payload["ok"],
                      "plan_marker_hits": markers["n_hits"],
                      "window_flagged": gwa["n_flagged"],
                      "errors": len(markers["errors"]),
                      "thirdway_flagged": thirdway["n_flagged"],
                      "thirdway_uncovered":
                          thirdway["flagged_without_replay"],
                      "diff": diff}))
    return 0 if payload["ok"] else 1


GATES = {"sf1": gate_sf1, "partitions": gate_partitions,
         "invariants": gate_invariants}


def main(argv) -> int:
    if not argv or argv[0] not in GATES:
        print(__doc__)
        return 2
    return GATES[argv[0]](argv[1:])


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
