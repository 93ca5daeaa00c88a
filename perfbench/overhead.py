"""Tracing overhead and span accounting for one seed.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0
    python3 perfbench/run.py --workload W --seed N --seconds S --trace 1
    python3 perfbench/overhead.py --workload W --seed N

Reads the two operation logs the runs left in ``.perfbench_out/`` and
prints, per operation, the untraced latency next to the traced run's
construct / plan / execute spans (each side's fastest pass of the
operation), and the end-to-end tracing overhead: the traced minus the
untraced ``op_mean_s``.
"""

from __future__ import annotations

import argparse
import json
import os

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), ".perfbench_out")


def _load(workload: str, seed: int, trace: int) -> dict:
    with open(os.path.join(OUT, f"{workload}-seed{seed}-trace{trace}.json")
              ) as fh:
        return json.load(fh)


def _measured(log: dict) -> list[dict]:
    return [r for r in log["ops"] if r["ok"] and r["kind"] in ("query", "step")
            and not r["id"].endswith("#cold")]


def _op_mean(log: dict, per_op: dict[str, float]) -> float:
    w = {op: log.get("weights", {}).get(op, 1.0) for op in per_op}
    return sum(w[op] * v for op, v in per_op.items()) / sum(w.values())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    plain, traced = (_load(args.workload, args.seed, t) for t in (0, 1))
    wall: dict[str, float] = {}
    for r in _measured(plain):
        op = r["id"].split("#")[0]
        wall[op] = min(wall.get(op, r["wall_s"]), r["wall_s"])
    child: dict[str, dict[str, float]] = {}
    for s in traced["spans"]:
        if s["op"] and s["parent"] == s["op"]:
            d = child.setdefault(s["op"], {})
            d[s["name"]] = d.get(s["name"], 0.0) + s["end"] - s["start"]
    split: dict[str, tuple[float, float, float]] = {}
    for r in _measured(traced):
        op, c = r["id"].split("#")[0], child.get(r["id"], {})
        plan = r.get("plan_s", 0.0)
        con = c.get("construct", 0.0)
        exe = sum(v for k, v in c.items() if k != "construct") - plan
        if op not in split or con + plan + exe < sum(split[op]):
            split[op] = (con, plan, exe)
    p_plain = _op_mean(plain, wall)
    p_traced = _op_mean(traced, {op: sum(v) for op, v in split.items()})
    overhead = p_traced - p_plain
    print(f"{'operation':34s} {'untraced':>9s} {'construct':>9s} "
          f"{'plan':>7s} {'execute':>8s} {'spans':>7s} {'diff':>7s}")
    within = 0
    for op in sorted(wall):
        if op not in split:
            continue
        con, plan, exe = split[op]
        diff = con + plan + exe - wall[op]
        within += abs(diff) <= abs(overhead) / p_plain * wall[op]
        print(f"{op:34s} {wall[op]:9.3f} {con:9.3f} {plan:7.3f} "
              f"{exe:8.3f} {con + plan + exe:7.3f} {diff:+7.3f}")
    print(f"op_mean_s: untraced {p_plain:.3f} s, traced {p_traced:.3f} s, "
          f"overhead {overhead:+.3f} s ({overhead / p_plain:+.1%}); "
          f"{within}/{len(split)} operations' spans within that share of "
          "their untraced latency")


if __name__ == "__main__":
    main()
