"""Physical-plan audits — the 100 TB design rules as checkable code.

``global_window_violations`` walks a DataFrame's physical plan and
returns every Window node that would funnel an unbounded input through
a single task: an EMPTY partition spec (``OVER (ORDER BY ...)`` with no
``PARTITION BY``) whose subtree shows no evidence of boundedness.
Evidence of boundedness, in practice:

* a TakeOrderedAndProject / Limit / WindowGroupLimit below it — the
  optimizer already pruned the input to K rows (Catalyst rewrites
  ``row_number().over(orderBy) ... filter(rk <= k)`` into a distributed
  per-partition top-K + merge, so a pinned top-K plan passes here);
* an Aggregate below the window WHOSE GROUPING KEYS ALL COME FROM A
  PINNED BOUNDED DOMAIN — calendar buckets (day/month/year: a few
  thousand rows over any horizon) or the tiny reference dims (nation,
  region).  Round-8 verdict task 2 tightened this: "any Aggregate"
  used to count, but an aggregate keyed by an ENTITY id (per-customer
  revenue, per-token frequency) is corpus-scaled — per-token is Heaps'
  law, per-customer grows with the user base — and must NOT excuse a
  single-task window.  Those shapes route through the two-pass kernels
  (q169's reroute this round is the canonical example).

Anything else is the single-partition global sort the round-6 verdict
flagged in the exact-rank statistics family; the scale-safe form is the
two-pass kernel in ``operators.relational`` (global_row_number /
global_ntile / global_lag / global_rank_cumsum), which emits
mapInPandas, not Window.

Used by tests/test_plan_invariants.py (with the kernel threshold forced
to 0 so auto-switch small paths can't mask a missing reroute) and by
scripts/global_window_audit.py for ad-hoc sweeps.
"""

from __future__ import annotations

import re

_LIMIT_NODES = {
    "TakeOrderedAndProjectExec", "GlobalLimitExec", "LocalLimitExec",
    "CollectLimitExec", "WindowGroupLimitExec",
}

_WINDOW_NODES = ("WindowExec", "WindowInPandasExec")

# The PINNED bounded domains an Aggregate may group by and still excuse
# a global window above it.  Deliberately minimal: calendar buckets
# (cardinality = horizon in days/months — thousands, not corpus-scaled)
# and the TPC-H reference dims that are constitutionally tiny.  Growing
# this set is a reviewed decision; entity ids (customer, doc, token,
# supplier, part, order) must never enter it.
_BOUNDED_KEY_NAMES = {
    "day", "month", "year", "week", "weekday", "dow", "hour", "quarter",
    "n_name", "n_nationkey", "r_name", "r_regionkey",
}

# Calendar-bucket defining expressions: an aggregate grouping on an
# aliased `date_trunc('day', ts)` (Catalyst names it
# `_groupingexpression#N`) is a bounded time bucket regardless of the
# alias's name.  The head regex finds the call; _is_calendar_call then
# paren-walks forward to require that the call's closing paren ENDS the
# balanced expression — `concat(customer_id, year(ts))` contains
# `year(` (substring) and `year(ts#1) || c_custkey#2` BEGINS with it
# (head match), but both are entity-scaled and must not be excused.
_BOUNDED_EXPR_RE = re.compile(
    r"^\s*(cast\()?\s*(date_trunc|year|month|quarter|weekofyear|"
    r"dayofweek|dayofmonth|hour|to_date|make_date|window)\(",
    re.IGNORECASE)

# The cast wrapper's tail: `as <type>)`.  <type> may be a scalar
# (`bigint`, `decimal(10,2)`) or a complex rendering — e.g.
# `cast(window(ts, ...) as struct<start:timestamp,end:timestamp>)`
# (ADVICE r10: the scalar-only version spuriously flagged the struct
# form).  The character class deliberately excludes a bare `)` so the
# final `\)` can only bind to the cast's own close; parens are admitted
# solely as a balanced numeric group (decimal precision, possibly
# nested inside struct<...>).
_CAST_TAIL_RE = re.compile(
    r"as\s+(?:[\w<>,:\s]|\(\d+(?:,\s*\d+)?\))+\)", re.IGNORECASE)


def _is_calendar_call(expr: str) -> bool:
    """True iff the WHOLE of ``expr`` is a single calendar-bucket call
    (optionally ``cast(...)``-wrapped).

    The head regex alone would excuse a composite that merely BEGINS
    with a calendar call; walk from the matched call's opening paren
    and require its balancing close to be the end of the expression
    (or, under a cast wrapper, to be followed only by ``as <type>)``).
    """
    expr = expr.strip()
    m = _BOUNDED_EXPR_RE.match(expr)
    if not m:
        return False
    depth = 0
    for j in range(m.end() - 1, len(expr)):
        ch = expr[j]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                tail = expr[j + 1:].strip()
                if m.group(1):  # cast( wrapper owes `as <type>)`
                    return bool(_CAST_TAIL_RE.fullmatch(tail))
                return tail == ""
    return False

_ATTR_RE = re.compile(r"([A-Za-z_][A-Za-z0-9_]*)#(\d+)")


def _balanced_suffix(s: str) -> str:
    """The smallest self-contained expression ending at the end of ``s``.

    Plan lines list several `expr AS name#id` items comma-separated;
    a greedy line prefix before ` AS name#id` would include SIBLING
    expressions (whose calendar calls must not excuse this key).  Walk
    backwards tracking paren depth: the expression starts after the
    first unmatched '(' or after a top-level ', '.
    """
    depth = 0
    for i in range(len(s) - 1, -1, -1):
        ch = s[i]
        if ch == ")":
            depth += 1
        elif ch == "(":
            if depth == 0:
                return s[i + 1:]
            depth -= 1
        elif ch in ",[" and depth == 0:
            # top-level item separator, or the plan line's opening
            # bracket (`Project [expr AS ...`)
            return s[i + 1:]
    return s


def _simple(node) -> str:
    return node.getClass().getSimpleName()


def _walk(node):
    yield node
    if _simple(node) == "AdaptiveSparkPlanExec":
        yield from _walk(node.inputPlan())
        return
    cs = node.children()
    for i in range(cs.size()):
        yield from _walk(cs.apply(i))


def _grouping_key_bounded(expr_str: str, subtree_str: str) -> bool:
    """Is one grouping expression from a pinned bounded domain?

    ``expr_str`` is the stringified NamedExpression: either a bare
    attribute ``name#id`` or an alias ``<defining expr> AS name#id``.
    Bare attributes are checked by name against the pinned set; when
    the name is a Catalyst synthetic (``_groupingexpression``) or
    otherwise unlisted, the DEFINING expression is looked up in the
    subtree string (``... AS name#id``) and tested for a
    calendar-bucket function.
    """
    m = _ATTR_RE.search(expr_str.split(" AS ")[-1])
    if m is None:
        # no attribute reference at all: a constant-folded grouping key
        # (one group) — bounded by construction
        return "#" not in expr_str
    name, attr_id = m.group(1), m.group(2)
    if name.lower() in _BOUNDED_KEY_NAMES:
        return True
    if " AS " in expr_str:
        return _is_calendar_call(
            _balanced_suffix(expr_str.rsplit(" AS ", 1)[0]))
    # bare synthetic/unlisted attribute: find its definition below and
    # anchor the check on ITS balanced expression only — a greedy line
    # prefix would include sibling Project items
    defn = re.search(
        rf"([^\n]*) AS {re.escape(name)}#{attr_id}\b", subtree_str)
    return bool(defn) and _is_calendar_call(
        _balanced_suffix(defn.group(1)))


def _aggregate_bounded(agg_node, subtree_str: str) -> bool:
    """Does this Aggregate bound the window input to a pinned domain?

    An empty grouping (global aggregate) is one row — always bounded.
    Otherwise EVERY grouping key must be from a bounded domain; a
    single entity-scaled key makes the output corpus-scaled.
    """
    try:
        ge = agg_node.groupingExpressions()
    except Exception:
        return False  # unknown aggregate shape: be conservative
    if ge.size() == 0:
        return True
    return all(
        _grouping_key_bounded(str(ge.apply(j)), subtree_str)
        for j in range(ge.size()))


def _bounding_evidence(window_node) -> str | None:
    """What bounds this global window's input, or None (= violation).

    Returns ``"limit:<NodeName>"`` or ``"bounded-aggregate:[keys]"`` —
    the per-window audit row scripts/global_window_audit.py commits as
    a round artifact, so every remaining ``WindowExec: No Partition
    Defined`` warning in a bench log is attributable to a named node.
    """
    cs = window_node.children()
    subtree_str = None
    for i in range(cs.size()):
        for d in _walk(cs.apply(i)):
            nm = _simple(d)
            if nm in _LIMIT_NODES:
                return f"limit:{nm}"
            if "Aggregate" in nm:
                if subtree_str is None:  # built once, only if needed
                    subtree_str = "\n".join(
                        str(cs.apply(k).toString())
                        for k in range(cs.size()))
                if _aggregate_bounded(d, subtree_str):
                    try:
                        ge = d.groupingExpressions()
                        keys = [str(ge.apply(j)).split(" AS ")[-1]
                                for j in range(ge.size())]
                    except Exception:
                        keys = ["?"]
                    return f"bounded-aggregate:{keys}"
    return None


def _subtree_bounded(window_node) -> bool:
    return _bounding_evidence(window_node) is not None


def global_window_report(df) -> list[dict]:
    """One row per partitionBy-less Window in df's physical plan:
    {"window": <simpleString>, "evidence": <str|None>, "ok": bool}."""
    root = df._jdf.queryExecution().executedPlan()
    out = []
    for n in _walk(root):
        if _simple(n) in _WINDOW_NODES and n.partitionSpec().isEmpty():
            ev = _bounding_evidence(n)
            out.append({"window": str(n.simpleString(120)),
                        "evidence": ev, "ok": ev is not None})
    return out


def global_window_violations(df) -> list[str]:
    """Descriptions of partitionBy-less Windows over unbounded input."""
    return [r["window"] for r in global_window_report(df)
            if not r["ok"]]


def audit_registry(spark, sf_dir: str, names=None,
                   force_big_paths: bool = True) -> dict:
    """Sweep the full query registry and return the committed-per-round
    audit artifact: every global window per query with its bounding
    evidence (``global_windows``), plus ``n_checked``/``n_flagged``.

    Shared by scripts/global_window_audit.py (ad-hoc CLI) and
    tests/test_plan_invariants.py (the per-round refresh: pytest
    regenerates GLOBAL_WINDOW_AUDIT.json and gates on 0 flagged, so the
    artifact can never go stale against the shipped plans — VERDICT r9
    task 7).  ``force_big_paths`` zeroes the row-id kernel threshold for
    the sweep so small-input auto-switches can't mask a missing reroute.
    """
    from ..operators import relational as R
    from ..queries_registry import all_queries

    qs = all_queries()
    if names is None:
        names = list(qs)
    saved = R._ROW_ID_WINDOW_THRESHOLD
    if force_big_paths:
        R._ROW_ID_WINDOW_THRESHOLD = 0
    flagged, table = {}, {}
    try:
        for name in names:
            try:
                report = global_window_report(qs[name](spark, sf_dir))
            except Exception as ex:  # noqa: BLE001
                table[name] = {"error": str(ex)[:200]}
                flagged[name] = [f"error: {str(ex)[:200]}"]
                continue
            if report:
                table[name] = report
            v = [r["window"] for r in report if not r["ok"]]
            if v:
                flagged[name] = v
    finally:
        R._ROW_ID_WINDOW_THRESHOLD = saved
    return {"sf": sf_dir, "n_checked": len(names),
            "n_flagged": len(flagged),
            "flagged": _stable_ids(flagged),
            "global_windows": _stable_ids(table)}


# `L?` swallows Catalyst's long-type suffix too (n#61396L), so typed and
# untyped attributes normalize to the same `#N` token (ADVICE r11)
_ATTR_ID_RE = re.compile(r"#\d+L?")


def _stable_ids(obj):
    """Replace Catalyst attribute ids (``name#123``) with ``#N`` in every
    string of a JSON-able payload, with dict keys in sorted order.

    The ids are allocated per-session, so without this the committed
    GLOBAL_WINDOW_AUDIT.json artifact churned on every pytest run and
    per-round diffs were pure noise (ADVICE r10).  Sorted keys keep the
    artifact independent of the registry order, which moves with every
    round's CORRECTNESS evidence.  Applied only to the serialized
    artifact — live ``global_window_report`` rows keep real ids for
    debugging."""
    if isinstance(obj, str):
        return _ATTR_ID_RE.sub("#N", obj)
    if isinstance(obj, dict):
        return {k: _stable_ids(obj[k]) for k in sorted(obj)}
    if isinstance(obj, list):
        return [_stable_ids(v) for v in obj]
    return obj
