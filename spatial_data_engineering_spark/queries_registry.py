"""Merged query/oracle registry backing the driver contract.

``__spark_entry__.queries()`` / ``oracle_sql()`` delegate here.  Each module
gets its QUERIES/ORACLES dicts and ``@query`` decorator from ``registrar()``;
this module merges them and asserts name uniqueness.

The driver's correctness harness verifies the FIRST 50 registry entries in
iteration order, so ordering is a coverage decision, not cosmetics.  The
order is derived from the driver's own evidence, the committed
``CORRECTNESS_r{N}.json`` files at the repo root (``window_order``):

1. the names in ``FORCED`` lead: queries whose plan or oracle changed since
   their last driver row;
2. then queries with no driver row at all, in registration order;
3. then every other query by the newest round that has a driver row for
   it, oldest first; ties go by the row's position in that round's file.

A new round's ``CORRECTNESS_r{N}.json`` therefore rotates the window with
no code edit.  Empty ``FORCED`` once the forced rows have driver rows.
The driver window is the sampling gate; ``tests/test_oracle_parity.py``,
which hash-matches the FULL inventory against DuckDB on every pytest run,
is the completeness gate.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Mapping, Sequence
from functools import cache
from pathlib import Path
from types import MappingProxyType

from pyspark.sql import DataFrame, SparkSession

# q141: its Spark plan and oracle (`_q141_round`) changed after its last
# driver row (r16).
FORCED: tuple[str, ...] = ("q141_unigram_logprob",)

_REPO = Path(__file__).resolve().parent.parent


def registrar():
    """A module's ``(QUERIES, ORACLES, query)``: two fresh dicts and the
    ``@query(name, oracle=None)`` decorator that fills them."""
    queries: dict = {}
    oracles: dict = {}

    def query(name: str, oracle: str | None = None):
        def deco(fn):
            if name in queries:
                raise ValueError(f"duplicate query name {name!r}")
            queries[name] = fn
            if oracle is not None:
                oracles[name] = oracle
            return fn
        return deco

    return queries, oracles, query


def _modules():
    # Imports are deliberately LOUD: a broken module must fail the whole
    # registry, not silently shrink the inventory — the parity gate
    # parametrizes over whatever this returns, so a swallowed ImportError
    # would turn missing queries into a false-green run.
    from .operators import (analytics, clustering, dedup, multimodal,
                            relational, similarity, sketches, subqueries,
                            textops, zonal)
    from .plans import curation

    return [relational, dedup, similarity, textops, zonal, multimodal,
            clustering, analytics, subqueries, sketches, curation]


def window_order(registered: Sequence[str],
                 evidence: Mapping[int, Sequence[str]],
                 forced: Sequence[str]) -> list[str]:
    """Registry order from driver evidence ({round: names in file order}):
    forced names, then never-verified ones in registration order, then the
    rest least-recently verified first (see the module docstring)."""
    unknown = [n for n in forced if n not in registered]
    if unknown:
        raise ValueError(f"FORCED names are not registered: {unknown}")
    newest: dict[str, tuple[int, int]] = {}
    for rnd in sorted(evidence):
        for pos, name in enumerate(evidence[rnd]):
            newest[name] = (rnd, pos)
    rest = [n for n in registered if n not in forced]
    never = [n for n in rest if n not in newest]
    seen = sorted((n for n in rest if n in newest), key=newest.__getitem__)
    return [*forced, *never, *seen]


@cache
def driver_evidence() -> Mapping[int, tuple[str, ...]]:
    """{round: query names in file order} of the committed
    ``CORRECTNESS_r{N}.json`` files; read once per process."""
    out = {}
    for path in _REPO.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m:
            out[int(m.group(1))] = tuple(json.loads(path.read_text()))
    return MappingProxyType(out)


def _merged(attr: str, kind: str) -> dict:
    out: dict = {}
    for mod in _modules():
        for name, value in getattr(mod, attr).items():
            if name in out:
                raise ValueError(f"duplicate {kind} name {name!r}")
            out[name] = value
    return out


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged = _merged("QUERIES", "query")
    order = window_order(list(merged), driver_evidence(), FORCED)
    return {name: merged[name] for name in order}


def all_oracles() -> dict[str, str]:
    merged = _merged("ORACLES", "oracle")
    # Not every query has an oracle; order the ones that do consistently.
    return {name: merged[name] for name in all_queries() if name in merged}
