"""Contracts the engine checks instead of assuming, and outputs that must
not depend on the host: the unique documents key the r17 self-join
removals rely on, the scorer's ``keep=`` columns, q141's cross-engine
rounding, the q77 shard count and the default driver heap."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from .conftest import REPO, SF_SMOKE

_SELF_JOIN_FREE = ("q127_score_calibration", "q163_score_auc",
                   "q176_score_normalization", "q188_aa_test",
                   "q209_source_scorecard")


def test_duplicate_doc_id_raises_named_error(spark, tmp_path):
    import shutil

    import pandas as pd

    from spatial_data_engineering_spark.catalog import TABLES, DuplicateKeyError
    from spatial_data_engineering_spark.operators import textops

    for t in TABLES:
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", tmp_path / f"{t}.parquet")
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    pd.concat([docs, docs.head(1)]).to_parquet(
        tmp_path / "documents.parquet", index=False)
    for name in _SELF_JOIN_FREE:
        with pytest.raises(DuplicateKeyError, match="not unique"):
            textops.QUERIES[name](spark, str(tmp_path))
    # the unique corpus constructs as before
    for name in _SELF_JOIN_FREE:
        textops.QUERIES[name](spark, SF_SMOKE)


def test_scored_quality_rejects_colliding_keep(spark):
    from spatial_data_engineering_spark.catalog import load
    from spatial_data_engineering_spark.operators.textops import _scored_quality

    d = load(spark, SF_SMOKE, "documents")
    with pytest.raises(ValueError, match="quality"):
        _scored_quality(d, keep=("source", "quality"))
    assert _scored_quality(d, keep=("source",)).columns == [
        "doc_id", "lang", "quality", "source"]


def test_q141_rounds_halfway_means_alike_in_both_engines(spark):
    """The per-doc mean 6873541935e-9 / 2 = 3.4367709675 is a half-way
    point whose double (3.4367709674999998) Spark's ROUND takes down and
    DuckDB's takes up; the integer rounding both plans share takes the
    exact quotient up in both engines."""
    import duckdb

    from spatial_data_engineering_spark.operators.textops import _q141_round

    row = "6873541935, 2"
    got_spark = spark.sql(
        f"SELECT {_q141_round(9, 'div')} AS r9, {_q141_round(6, 'div')} AS r6"
        f" FROM VALUES ({row}) AS t(s, c)").collect()[0]
    got_duck = duckdb.sql(
        f"SELECT {_q141_round(9, '//')} AS r9, {_q141_round(6, '//')} AS r6"
        f" FROM (VALUES ({row})) t(s, c)").fetchone()
    assert tuple(got_spark) == tuple(got_duck) == (3436770968, 3436771)


def _pack_shards_under(cpus: str) -> str:
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    return subprocess.run(
        [sys.executable, "-c",
         "from spatial_data_engineering_spark.operators import textops;"
         "print(textops._PACK_SHARDS)"],
        cwd=REPO, env=env, capture_output=True, text=True,
        check=True).stdout.strip()


def test_q77_pack_shards_do_not_follow_the_host():
    assert _pack_shards_under("4") == _pack_shards_under("32") == "32"


def test_default_driver_mem_is_half_of_ram_capped():
    from spatial_data_engineering_spark.session import default_driver_mem

    mem = default_driver_mem()
    assert mem.endswith("g") and 1 <= int(mem[:-1]) <= 32
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    assert int(mem[:-1]) * 2 ** 20 <= max(kb * 0.6, 2 ** 20)
