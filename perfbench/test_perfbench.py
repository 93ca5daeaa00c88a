"""Self-tests of the benchmark (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

from perfbench import datagen, eventlog  # noqa: E402


def _generated(out_dir: str, seed: int) -> list[str]:
    datagen.write_tables(os.path.join(out_dir, "t"), seed)
    paths = datagen.write_spatial(os.path.join(out_dir, "s"), seed)
    files = [os.path.join(out_dir, "t", f"{t}.parquet")
             for t in datagen.TABLES] + sorted(paths.values())
    docs = os.path.join(out_dir, "t", "documents.parquet")
    import pandas as pd

    for i, pdf in enumerate(datagen.stream_deltas(
            seed, pd.read_parquet(docs).text.tolist())):
        files.append(os.path.join(out_dir, f"delta{i}.parquet"))
        pdf.to_parquet(files[-1], index=False)
    return files


def _bytes(files: list[str]) -> list[bytes]:
    out = []
    for p in files:
        with open(p, "rb") as fh:
            out.append(fh.read())
    return out


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _bytes(_generated(str(tmp_path / "a"), 7))
    b = _bytes(_generated(str(tmp_path / "b"), 7))
    c = _bytes(_generated(str(tmp_path / "c"), 8))
    assert a == b
    # every input except the seed-independent ones changes with the seed
    fixed = {"region", "nation", "lu.csv", "lu_csv", "admin_regions"}
    names = [os.path.basename(p) for p in _generated(str(tmp_path / "d"), 7)]
    for name, x, y in zip(names, a, c):
        if not any(name.startswith(f) for f in fixed):
            assert x != y, name


def test_planted_structure_is_seed_independent(tmp_path):
    import pandas as pd

    for seed in (1, 2):
        datagen.write_tables(str(tmp_path / str(seed)), seed)
    d1, d2 = (pd.read_parquet(tmp_path / str(s) / "documents.parquet")
              for s in (1, 2))
    assert len(d1) == len(d2)
    # exact duplicates sit at the same ids for every seed
    assert (d1.text.duplicated().to_numpy()
            == d2.text.duplicated().to_numpy()).all()


def _canned_log(log_dir: str) -> None:
    """Two operations: op A launches one construct job (2 tasks) and one
    execute job (1 task, a Python UDF node); op B one execute job; one
    untagged job (set-up)."""
    py_node = {"nodeName": "ArrowEvalPython", "children": [], "metrics": [
        {"name": "number of output rows", "accumulatorId": 90,
         "metricType": "sum"},
        {"name": "time to run Python workers", "accumulatorId": 91,
         "metricType": "nsTiming"}]}

    def props(op, phase):
        return {} if op is None else {eventlog.OP_PROP: op,
                                      eventlog.PHASE_PROP: phase}

    def job(jid, stage, op, phase):
        return [{"Event": "SparkListenerJobStart", "Job ID": jid,
                 "Stage IDs": [stage], "Properties": props(op, phase)},
                {"Event": "SparkListenerStageSubmitted",
                 "Stage Info": {"Stage ID": stage, "Stage Attempt ID": 0},
                 "Properties": props(op, phase)}]

    def task(stage, run_ms, cpu_ns, shuffle=0, acc=()):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Stage Attempt ID": 0,
                "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + run_ms
                              + 15, "Getting Result Time": 0,
                              "Accumulables": list(acc)},
                "Task Metrics": {"Executor Deserialize Time": 5,
                                 "Executor Run Time": run_ms,
                                 "Executor CPU Time": cpu_ns,
                                 "Result Serialization Time": 0,
                                 "Disk Bytes Spilled": 0,
                                 "Shuffle Write Metrics": {
                                     "Shuffle Bytes Written": shuffle}}}

    events = (job(0, 0, None, None) + [task(0, 10, 10**7)]
              + job(1, 1, "A", "construct")
              + [task(1, 100, 5 * 10**7, shuffle=2**20)] * 2
              + [{"Event": eventlog._SQL_START, "sparkPlanInfo": {
                  "nodeName": "Project", "metrics": [],
                  "children": [py_node]}}]
              + job(2, 2, "A", "execute")
              + [task(2, 200, 10**8, acc=[
                  {"ID": 90, "Name": "number of output rows", "Update": 7},
                  {"ID": 91, "Name": "time to run Python workers",
                   "Update": 3 * 10**8}])]
              + job(3, 3, "B", "execute") + [task(3, 50, 10**7)])
    app = os.path.join(log_dir, "eventlog_v2_local-1")
    os.makedirs(app)
    data = "\n".join(json.dumps(e) for e in events).encode()
    with pyarrow.output_stream(os.path.join(app, "events_1_local-1.zstd"),
                               compression="zstd") as fh:
        fh.write(data)


def test_event_log_folds_per_operation(tmp_path):
    _canned_log(str(tmp_path))
    got = eventlog.fold_dir(str(tmp_path))
    a_con, a_exe = got[("A", "construct")], got[("A", "execute")]
    assert (a_con["jobs"], a_con["tasks"]) == (1, 2)
    assert a_con["run_s"] == 0.2 and a_con["cpu_s"] == 0.1
    assert a_con["shuffle_write_mb"] == 2.0
    # 2 tasks x (15 ms of wall beyond run time - 5 ms deserialize)
    assert a_con["scheduler_delay_s"] == pytest.approx(0.02)
    assert (a_exe["jobs"], a_exe["tasks"]) == (1, 1)
    assert a_exe["python_rows"] == 7
    assert a_exe["python_udf_s"] == pytest.approx(0.3)
    assert got[("B", "execute")]["run_s"] == 0.05
    assert got[("B", "execute")]["python_rows"] == 0
    assert got[(None, None)]["jobs"] == 1


def test_inventory_sample_is_stratified_and_weighted():
    from collections import Counter

    from perfbench import workloads

    rows, _ = workloads.registry()
    sample = workloads.inventory_sample(rows)
    assert sample == workloads.inventory_sample(rows)
    assert len(sample) == workloads.SAMPLE_SIZE
    size = Counter(r[0] for r in rows)
    slots = Counter(r[0] for r in sample)
    assert set(slots) == set(size)
    assert not {r[1] for r in sample} & set(workloads.EXCLUDED)
    quota = {m: workloads.SAMPLE_SIZE * n / len(rows) for m, n in size.items()}
    # no slot moves from one module to another without leaving the
    # receiver further below its quota than the giver ends up
    for a in slots:
        for b in slots:
            if a != b and slots[a] > 1:
                assert quota[b] - slots[b] <= quota[a] - slots[a] + 1, (a, b)
    # weights: each module's share of the registry, split over its slots
    assert sum(r[3] for r in sample) == pytest.approx(1.0)
    for mod, _, _, w in sample:
        assert w * slots[mod] == pytest.approx(size[mod] / len(rows))


def test_golden_check_accepts_only_exact_ties():
    from perfbench import checks

    ref = {"total_ha": 1234.5,
           "variances": {"a": 0.25, "b": 0.25 * (1 - 1e-12), "c": 0.2}}
    report = {"Total Mangrove Area (Ha)": "1,234.50",
              "Area with Highest Variation": "b", "Variance": "0.25"}
    assert checks.check_golden(report, ref) is None
    report["Area with Highest Variation"] = "c"
    assert "not in ['a', 'b']" in checks.check_golden(report, ref)
    report.update({"Area with Highest Variation": "a", "Variance": "0.26"})
    assert "variance" in checks.check_golden(report, ref)
    report.update({"Variance": "0.25", "Total Mangrove Area (Ha)": "1,234.51"})
    assert "area" in checks.check_golden(report, ref)
