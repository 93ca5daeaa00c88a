"""Standing sf1 scale-frontier probe (VERDICT r10 task 2).

The round-10 sf1 whole-suite probe cost 3x300 s and caught every real
super-linearity in ten specific queries.  This script re-runs just that
scale-sensitive subset at sf1 each round (~1-2 min), appends a labeled
row to BENCH_history.jsonl, and attributes any per-query drift > 1.3x
against the committed `r10-sf1-3run-final` medians — turning the one-off
probe into a cheap per-round regression gate.

Usage: python scripts/sf1_frontier.py [label]   (default: rN read from
the round arg, e.g. "r11-sf1-frontier")

Flag auto-adjudication (VERDICT r11 task 3): round 11 resolved both of
its in-suite flags (q148 1.30x, q56 1.45x) as composition noise via
MANUAL isolated 5-run A/Bs — this script now runs that arbiter itself.
On a drift flag, the query is re-benched ISOLATED (its own bench.py
invocation, SPARK_GRAFT_RUNS=5, median) in the same session and
re-judged against the anchor with the same rule; only a CONFIRMED
isolated drift fails the probe.  Both the in-suite row and every
arbiter row land in BENCH_history.jsonl (labels `<label>` and
`<label>-arbiter-<query>`), so the adjudication is a committed
artifact, not a judgment call.

Exit 0 iff every frontier query ran and no drift survived the isolated
arbiter (the script always prints the drift table; nonzero exit means a
REPRODUCIBLE drift needs attribution).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The queries the r10 sf1 probe showed are scale-sensitive: the LSH /
# embedding family (adaptive K, gated unroll, BLAS tiling), the two
# by-contract exact-O(n^2) baselines, the dup-graph frontier loop, the
# token-instance joins, and the end-to-end curation plan.
# Round-13 rotation (VERDICT r12 task 4): the SF1_PARITY heavy tail was
# re-measured SPARK-SIDE (the parity log mixes Spark + DuckDB-oracle
# time — q152 read 41.2 s in the log but is 1.55 s of Spark; q171
# 10.3 s -> 0.25 s; q188 8.8 s -> 0.97 s; q199 8.1 s -> 0.87 s;
# BENCH_history `r13-sf1-heavytail-scout`).  Only q168 (3.15 s — the
# token-instance dedup cost model) and q152 (1.55 s — dup-cluster-size
# distribution over the full pair graph) are real Spark-side tail and
# join the frontier; the rest stay out as oracle-dominated.
FRONTIER = [
    "q148_semdedup", "q51_srp_lsh_buckets", "q47_minhash_lsh",
    "q50_embedding_neardup", "q154_knn_label_accuracy", "q49_cosine_topk",
    "q193_heaps_law", "q209_source_scorecard", "q56_dedup_components",
    "q212_curation_shards", "q168_dedup_cost_model",
    "q152_dup_cluster_sizes",
]

# Drift is judged against committed 3-run medians — a FIXED anchor,
# deliberately not a ratchet: re-anchoring to each round's frontier row
# would let slow creep compound unflagged.  Labels compose with
# EARLIEST-WINS semantics: a later label only supplies queries the
# earlier rows never measured (new members enter at their first
# committed row; existing members keep their original anchor — the r13
# review caught a file-order update() silently loosening q152's r10
# anchor 1.02 -> 1.55 via the scout row).
# RECAL_LABELS override, one query each, and must carry their own
# proof: q212's r10 anchor (3.67 s) was the historical minimum — every
# r10-r13 reading sat at 4.0-6.0 s, so the arbiter CONFIRMED a "drift"
# that a cross-tree A/B (fresh-JVM bench alternated between the current
# tree and the r12 tree, BENCH_history `r13-q212-code-ab`) proved is
# NOT a code regression (4.86 vs 5.04 — identical within noise).  The
# `r13-q212-anchor-recal` row re-anchors q212 at its representative
# median; a recal label without such an A/B row is forbidden.
ANCHOR_LABELS = ("r10-sf1-3run-final", "r13-sf1-heavytail-scout")
RECAL_LABELS = ("r13-q212-anchor-recal",)

# COLD-PROBE for the memoized family (round 16; r15 advice): with the
# warm-start mode, scored runs for session-memoized queries measure
# memo-HIT time only — the probe went nearly blind to regressions
# inside the memoized builds (q47's signature pipeline, q148's
# assignment, q56's pair/components chain, q212's stage pipeline).
# Each round also runs this subset COLD: fresh JVM, no warm-up pass,
# SPARK_GRAFT_RUNS=1, and a FRESH pair-cache root so the disk tier
# can't serve the pair/sig/span tables — the row measures the true
# build path.  Judged against the committed r16 cold anchor with a
# wider absolute bar (cold builds carry JIT + co-tenant swings a
# 1-run read can't median away); flags re-run once cold-isolated as
# the arbiter.
MEMOIZED = ["q47_minhash_lsh", "q148_semdedup", "q56_dedup_components",
            "q212_curation_shards"]
COLD_ANCHOR_LABELS = ("r16-memo-cold-anchor",)
COLD_DRIFT = 1.3
COLD_DRIFT_MIN_ABS = 2.0

DRIFT = 1.3
# Sub-second queries swing +-0.3-0.5 s on this box between sessions
# (q56 read 0.96/1.14/1.26 s across one day with no DAG change — see
# SCALE_NOTES r11); a ratio-only trigger on them is an alarm that is
# always noise.  Require a real absolute move too.
DRIFT_MIN_ABS = 0.5


def _anchor() -> dict[str, float]:
    hist = os.path.join(REPO, "BENCH_history.jsonl")
    anchor: dict[str, float] = {}
    rows = []
    with open(hist) as fh:
        for line in fh:
            rows.append(json.loads(line))
    # earliest-wins across ANCHOR_LABELS (anti-ratchet): iterate labels
    # in declaration order and only fill gaps
    for label in ANCHOR_LABELS:
        for row in rows:
            if row.get("label") == label:
                for q, t in row["queries"].items():
                    if q in FRONTIER:
                        anchor.setdefault(q, t)
    # explicit recalibrations override — each label must be justified by
    # a committed cross-tree A/B row (see RECAL_LABELS comment).  The
    # one-query-per-label rule is ENFORCED here, not just documented
    # (ADVICE r13): a recal row carrying several queries would silently
    # re-anchor (loosen) queries that never got an A/B.
    for label in RECAL_LABELS:
        for row in rows:
            if row.get("label") == label:
                if len(row["queries"]) != 1:
                    raise SystemExit(
                        f"recal row {label!r} carries "
                        f"{len(row['queries'])} queries "
                        f"({sorted(row['queries'])}); the rule is ONE "
                        "query per recal label, each with its own "
                        "cross-tree A/B proof")
                anchor.update({q: t for q, t in row["queries"].items()
                               if q in FRONTIER})
    missing = [q for q in FRONTIER if q not in anchor]
    if not anchor or missing:
        raise SystemExit(
            f"anchor incomplete (labels {ANCHOR_LABELS}): missing {missing}")
    return anchor


def _cold_anchor() -> dict[str, float]:
    """Committed cold-build medians for MEMOIZED (earliest-wins over
    COLD_ANCHOR_LABELS); {} if the anchor row has not been recorded yet
    (its first recording round declares itself the anchor)."""
    hist = os.path.join(REPO, "BENCH_history.jsonl")
    anchor: dict[str, float] = {}
    with open(hist) as fh:
        rows = [json.loads(line) for line in fh]
    for label in COLD_ANCHOR_LABELS:
        for row in rows:
            if row.get("label") == label:
                for q, t in row["queries"].items():
                    if q in MEMOIZED:
                        anchor.setdefault(q, t)
    return anchor


def _run_bench(queries: list[str], runs: str, label: str,
               force_runs: bool = False, cold: bool = False) -> dict | None:
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_SF_DIR": os.path.join(REPO, "testdata_sf1"),
        "SPARK_GRAFT_QUERIES": ",".join(queries),
        # Discarded warm-up pass (VERDICT r14 task 2): r13/r14 every
        # in-suite flag was run-1 JIT warm-up and every isolated median
        # landed BELOW anchor — the probe manufactured arbiter work.
        # All scored runs now start warm (JVM, codegen, session memos),
        # which is the steady state the anchors represent; a flag that
        # still fires is a real drift by construction.
        "SPARK_GRAFT_WARMUP_SUITE": "1",
        # Between-query storage scrub (VERDICT r15 task 6): the one
        # flag class the warm-up fix left standing was suite
        # COMPOSITION noise — a query paying for predecessors' dead
        # storage/GC state (q50: 12.46 s in-suite vs 2.14 s isolated).
        # The scored passes now clear the catalog cache and force a
        # ContextCleaner drain between queries, outside the timed
        # region.
        "SPARK_GRAFT_CLEARCACHE_BETWEEN": "1",
        # the ARBITER must always get its full 5-run median — a
        # pre-set SPARK_GRAFT_RUNS=1 quick-probe env var must not let
        # it "adjudicate" real drift from a single lucky run (r12
        # self-review); only the in-suite pass honors the env override
        "SPARK_GRAFT_RUNS": runs if force_runs
        else env.get("SPARK_GRAFT_RUNS", runs),
        "SPARK_GRAFT_BENCH_LABEL": label,
    })
    if cold:
        # the memoized-family cold probe: no warm-up pass (the build IS
        # the measurement) and a throwaway pair-cache root so the disk
        # tier can't serve the pair/sig/span tables
        import tempfile

        env.pop("SPARK_GRAFT_WARMUP_SUITE", None)
        env["SPARK_GRAFT_PAIR_CACHE"] = tempfile.mkdtemp(
            prefix="sf1-coldprobe-")
    proc = subprocess.run([sys.executable, os.path.join(REPO, "bench.py")],
                          env=env, cwd=REPO, capture_output=True, text=True)
    sys.stderr.write(proc.stderr[-2000:])
    print(proc.stdout.strip())
    if proc.returncode != 0:
        return None
    with open(os.path.join(REPO, "BENCH.json")) as fh:
        return json.load(fh)


ARBITER_RUNS = "5"


def _arbitrate(q: str, a: float, suite_t: float, label: str) -> bool:
    """Re-judge a flagged query ISOLATED (own JVM, 5-run median) against
    the same anchor + rule.  True = drift is REAL (reproduces isolated);
    False = composition/session noise, auto-resolved."""
    print(f"\narbiter: re-benching {q} isolated x{ARBITER_RUNS} "
          f"(in-suite read {suite_t:.2f}s vs anchor {a:.2f}s)...")
    payload = _run_bench([q], ARBITER_RUNS, f"{label}-arbiter-{q}",
                         force_runs=True)
    if payload is None or q not in payload.get("queries", {}):
        print(f"arbiter: isolated bench FAILED for {q} — treating as real")
        return True
    t = payload["queries"][q]
    real = t / a > DRIFT and (t - a) > DRIFT_MIN_ABS
    verdict = "CONFIRMED (investigate)" if real else "noise (auto-resolved)"
    print(f"arbiter: {q} isolated median {t:.2f}s vs anchor {a:.2f}s "
          f"(ratio {t / a:.2f}) -> {verdict}")
    return real


def main() -> int:
    # the label keys BENCH_history rows per round — a stale default
    # would file this round's evidence under the wrong round (r13
    # review), so it is REQUIRED
    if len(sys.argv) < 2:
        raise SystemExit("usage: sf1_frontier.py <label>  "
                         "(e.g. r14-sf1-frontier)")
    label = sys.argv[1]
    payload = _run_bench(FRONTIER, "3", label)
    if payload is None:
        return 3
    timings = payload["queries"]
    anchor = _anchor()
    missing = [q for q in FRONTIER if q not in timings]
    drifted = []
    print(f"\n{'query':34} {'anchor':>8} {'now':>8} {'ratio':>6}")
    for q in FRONTIER:
        if q in missing:
            print(f"{q:34} {anchor.get(q, float('nan')):8.2f} {'FAIL':>8}")
            continue
        a, t = anchor.get(q), timings[q]
        ratio = t / a if a else float("nan")
        is_drift = bool(a) and ratio > DRIFT and (t - a) > DRIFT_MIN_ABS
        mark = " <-- DRIFT" if is_drift else ""
        print(f"{q:34} {a:8.2f} {t:8.2f} {ratio:6.2f}{mark}")
        if is_drift:
            drifted.append((q, ratio))
    if missing:
        print(f"FAILED queries: {missing}")
        return 2
    confirmed = [(q, r) for q, r in drifted
                 if _arbitrate(q, anchor[q], timings[q], label)]
    cold_rc = _cold_probe(label)
    if confirmed:
        print(f"\n>{DRIFT}x drift CONFIRMED by the isolated arbiter — "
              f"attribute in SCALE_NOTES/BENCH notes before shipping: "
              f"{confirmed}")
        return 1
    if drifted:
        print(f"\nall {len(drifted)} in-suite flags auto-resolved as "
              f"noise by the isolated arbiter (rows in BENCH_history)")
    else:
        print("\nfrontier: no drift > 1.3x vs anchor")
    return cold_rc


def _cold_probe(label: str) -> int:
    """Cold-build probe for the memoized family (r15 advice): fresh
    JVM, no warm-up, throwaway disk-cache root, 1 run — measures the
    true signature/assignment/stage BUILD paths the warm-start mode
    can no longer see.  Self-anchoring: the first round with no
    committed cold anchor records its row UNDER the anchor label
    (earliest-wins freezes it; the anti-ratchet rule then applies
    forever).  A flag re-runs once cold-isolated as the arbiter."""
    canchor = _cold_anchor()
    cold_label = (COLD_ANCHOR_LABELS[0] if not canchor
                  else f"{label}-cold-memoized")
    payload = _run_bench(MEMOIZED, "1", cold_label, force_runs=True,
                         cold=True)
    if payload is None:
        print("\ncold-memoized probe FAILED to run")
        return 3
    if not canchor:
        print(f"\ncold-memoized: first recording — row committed as the "
              f"standing cold anchor ({cold_label}): "
              f"{payload['queries']}")
        return 0
    print(f"\n{'cold-memoized build':34} {'anchor':>8} {'now':>8} "
          f"{'ratio':>6}")
    confirmed = []
    rc = 0
    for q in MEMOIZED:
        a, t = canchor.get(q), payload["queries"].get(q)
        if t is None:
            print(f"{q:34} {a or float('nan'):8.2f} {'FAIL':>8}")
            rc = 2
            continue
        ratio = t / a if a else float("nan")
        is_drift = bool(a) and ratio > COLD_DRIFT and \
            (t - a) > COLD_DRIFT_MIN_ABS
        print(f"{q:34} {a:8.2f} {t:8.2f} {ratio:6.2f}"
              f"{' <-- DRIFT' if is_drift else ''}")
        if is_drift:
            confirmed.append(q)
    real = []
    for q in confirmed:
        print(f"\ncold arbiter: re-running {q} cold-isolated once...")
        p2 = _run_bench([q], "1", f"{label}-cold-arbiter-{q}",
                        force_runs=True, cold=True)
        if p2 is None or q not in p2.get("queries", {}):
            print(f"cold arbiter: FAILED for {q} — treating as real")
            real.append(q)
            continue
        t2, a = p2["queries"][q], canchor[q]
        if t2 / a > COLD_DRIFT and (t2 - a) > COLD_DRIFT_MIN_ABS:
            print(f"cold arbiter: {q} {t2:.2f}s vs anchor {a:.2f}s — "
                  f"CONFIRMED (investigate)")
            real.append(q)
        else:
            print(f"cold arbiter: {q} {t2:.2f}s vs anchor {a:.2f}s — "
                  f"noise (auto-resolved)")
    if real:
        print(f"\ncold-memoized drift CONFIRMED: {real} — a regression "
              f"INSIDE a memoized build; attribute before shipping")
        return 1
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
