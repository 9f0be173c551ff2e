"""Registry-wide physical-plan anti-pattern audit.

Mechanically checks EVERY batch query's AQE final physical plan for
the shapes the 100 TB design forbids, generalizing the per-query
pinned plan tests (test_topk_plan_is_take_ordered & co.) to the
whole registry:

  - CartesianProduct ............ unbounded cross product
  - BroadcastNestedLoopJoin ..... allowed only when one side is a
                                  1-row/aggregate subtree (the
                                  scalar-broadcast convention) —
                                  flagged when both sides look wide
  - BatchEvalPython / PythonUDF . row-at-a-time Python in the plan
                                  (ArrowEvalPython / mapInPandas are
                                  the sanctioned vectorized forms)
  - parquet scan without ReadSchema pruning when the query selects
    a narrow projection is NOT machine-checkable generically, so the
    audit reports per-query operator counts instead and leaves
    pruning to the pinned tests.

Streaming queries (s_*) are skipped: their registered callables
EXECUTE a replay rather than return a lazy frame, and their physical
shape is covered by the streaming pytest suite.

Usage:
    python tools/audit_plans.py [sf_dir]
Exit code 1 if any verdict is FAIL.

Digest mode (the "same plans" gate for refactors):
    python tools/audit_plans.py [sf_dir] --digest OUT.json [--against BASE.json]
writes, per batch query, two sha256 digests of its initial physical
plan: `shape` (operator names and tree structure only) and `full`
(the plan text with expression ids, plan ids, lambda-variable
suffixes and temp paths stripped, and the distinct-aggregate rewrite's
gid numbering masked and its lists sorted), and a `schema` digest of
its result columns (names, types, nullability). Every registered name,
stream or batch, also gets an `oracle` digest of its DuckDB oracle SQL
(null for a rows-only query). It exits 1, naming the query, if any
batch query raises while it is planned. With --against it lists the
queries whose digests differ from BASE.json by kind (shape, full,
schema, oracle), or that raised on either side, and exits 1 if any
does.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# BNLJ whitelist: queries whose nested-loop side is a 1-row aggregate
# or an intentionally single-probe build (documented in PLANS.md).
BNLJ_OK = {
    "q_sim_knn_cosine",  # single broadcast probe row, by design
    "q_sim_knn_filtered",  # same single-probe design as knn_cosine;
    # the metadata predicate prunes via an equi-join BEFORE this
    # 1-row probe broadcast (docstring + PLANS.md)
    "q_dedup_embedding",  # exact all-pairs BASELINE tier: blocked
    # pair join with capped n_blocks; the certified scale paths are
    # the LSH/IVF tiers (PLANS.md "Known divergences")
    "q_join_cross",  # the explicit broadcast cross-join operator —
    # a cross product IS its contract (25-row dim side)
}

# Row-eval whitelist: Python UDTFs execute through BatchEvalPython by
# construction; the operator exists to cover the UDTF surface and its
# docstring carries the scale caveat.
PYEVAL_OK = {"q_udtf_expand_json"}

# Global-window whitelist: queries where an un-partitioned window is
# the DOCUMENTED design because its input is an already-reduced,
# bounded aggregate (the window moves O(groups) rows, not the fact
# table). Anything else planning a global window is a scale bug —
# the whole input would serialize through one partition.
GLOBAL_WINDOW_OK: set[str] = {
    "q_events_growth_accounting",  # final lag over the O(days) series
    "q_events_pareto",  # ntile over the per-user aggregate; decile-
    # summary contract admits a boundary-join rewrite (docstring)
    "q_events_rfm",  # three ntiles over O(users); swap documented
    "q_text_vocab_coverage",  # rank over O(vocab) term counts
    "q_text_zipf_fit",  # rank over the same collapsed vocab table
    "q_win_ntile_dist",  # the ntile/cume_dist SURFACE op itself
    "q_orders_abc_xyz",  # cumulative revenue over the O(parts) dim
    # aggregate (the q_events_pareto precedent; docstring argues the
    # O(P²) window-free rewrite loses at scale)
    "q_dq_ks_test",  # CDF cumsum over the collapsed distinct-value
    # grid (value sits on an exact 0.01 grid => bounded O(grid) rows,
    # never the fact table; docstring documents the collapse)
    "q_sim_hybrid_rrf",  # two row_number ranks over frames ALREADY
    # cut to RRF_DEPTH(=20) rows by TakeOrderedAndProject — each
    # window moves O(DEPTH) rows regardless of corpus size (docstring
    # "the window rank runs on the already-cut DEPTH-row frame")
}


def _global_windows(plan: str) -> int:
    """Count windowspecdefinitions with an EMPTY partition spec. The
    spec's argument list is [partition cols..., order cols...,
    frame]; partition columns are bare references while order columns
    carry ASC/DESC — so a spec whose every pre-frame argument has an
    ASC/DESC marker (or that has none at all) is a global window."""
    n = 0
    for m in re.finditer(r"windowspecdefinition\((.*?)specifiedwindowframe", plan):
        args = [a for a in m.group(1).split(", ") if a]
        if all(" ASC" in a or " DESC" in a for a in args):
            n += 1
    return n


_VOLATILE = [
    (re.compile(r"#\d+L?"), "#"),  # expression ids
    (re.compile(r"\[?plan_id=\d+\]?|\[id=#\]"), ""),  # exchange / subquery ids
    (re.compile(r"\b([xyz])_\d+\b"), r"\1"),  # PySpark lambda variables
    # temp dirs (Spark abbreviates a long file-index location with ...)
    (re.compile(r"\[(file:)?/tmp/[^\]]*?(\]|\.\.\.(?=,))"), "[<tmp>]"),
    (re.compile(r"(file:)?/tmp/[^\s,\]\)]*"), "<tmp>"),
    (re.compile(r"\b(RDD|ExistingRDD)\[\d+\]"), r"\1"),  # RDD ids
    (re.compile(r"\bsubquery#?\d*"), "subquery"),
]
_OPERATOR = re.compile(r"^([\s:|+\-]*)(?:\*\(\d+\)\s*)?(Scan [A-Za-z]+|[A-Za-z]+)")


def normalize_plan(plan: str) -> str:
    """Plan text with per-process identifiers stripped."""
    for pattern, repl in _VOLATILE:
        plan = pattern.sub(repl, plan)
    if not re.search(r"\bgid# = \d", plan):  # no distinct-aggregate rewrite
        return plan
    return "\n".join(
        _mask_gids(line) if "gid#" in line else line
        for line in plan.split("\n")
    )


def _mask_gids(line: str) -> str:
    """A line of the distinct-aggregate rewrite (its Expand and the
    ancestors that read `gid`) with its group numbering masked and its
    lists sorted. The rewrite lists its columns and numbers its `gid`
    groups in an order set by expression ids, which depend on what the
    session built before the query; the `shape` digest still covers
    the structure."""
    line = re.sub(r"gid# = \d+", "gid# = ?", line)
    if re.search(r"\bExpand \[", line):
        line = re.sub(r"(?<=[\[ ])\d+(?=[,\]])", "?", line)  # gid values
    stack = [["", ""]]  # per open list: its opener, then its items
    for ch in line:
        if ch in "([":
            stack.append([ch, ""])
        elif ch in ")]" and len(stack) > 1:
            opener, *items = stack.pop()
            items = sorted(i.strip() for i in items)
            stack[-1][-1] += opener + ", ".join(items) + ch
        elif ch == "," and len(stack) > 1:
            stack[-1].append("")
        else:
            stack[-1][-1] += ch
    while len(stack) > 1:  # a bracket left open, e.g. in a string literal
        opener, *items = stack.pop()
        stack[-1][-1] += opener + ",".join(items)
    return stack[0][1]


def plan_shape(plan: str) -> str:
    """Operator names in tree order, each under its tree prefix."""
    return "\n".join(
        m.group(1) + m.group(2)
        for m in map(_OPERATOR.match, plan.splitlines())
        if m
    )


def _sha(text: str) -> str:
    import hashlib

    return hashlib.sha256(text.encode()).hexdigest()


def schema_text(df) -> str:
    """The result columns' names, types (nested nullability included)
    and nullability, one JSON line."""
    import json

    return json.dumps(
        [[f.name, f.dataType.jsonValue(), f.nullable] for f in df.schema],
        sort_keys=True,
    )


def digest_main(sf_dir: str, out: str, against: str | None) -> int:
    import json

    from mrtweety_analytic_spark.queries import ORACLES, QUERIES
    from mrtweety_analytic_spark.session import get_spark

    spark = get_spark("plan-digest")
    spark.sparkContext.setLogLevel("ERROR")
    digests = {}
    n_err = 0
    for name in sorted(QUERIES):
        oracle = ORACLES.get(name)
        digests[name] = {"oracle": oracle and _sha(oracle)}
        if name.startswith("s_"):
            continue
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            digests[name]["error"] = str(e)[:200]
            print(f"{name:40s} ERROR building plan: {e}"[:200])
            n_err += 1
            continue
        digests[name].update(
            shape=_sha(plan_shape(plan)),
            full=_sha(normalize_plan(plan)),
            schema=_sha(schema_text(df)),
        )
    with open(out, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote the digests of {len(digests)} queries to {out}")
    if n_err:
        print(f"{n_err} batch queries raised while planned")
    if against is None:
        return 1 if n_err else 0
    with open(against) as f:
        base = json.load(f)
    n_diff = 0
    for name in sorted(set(base) | set(digests)):
        a, b = base.get(name), digests.get(name)
        if a == b and "error" not in a:  # an error is never "the same"
            continue
        n_diff += 1
        if a is None or b is None:
            print(f"{name:40s} {'added' if a is None else 'removed'}")
            continue
        kinds = [
            k
            for k in ("shape", "full", "schema", "oracle", "error")
            if a.get(k) != b.get(k)
        ] or ["raised on both sides"]
        print(f"{name:40s} differs: {', '.join(kinds)}")
    print(f"{n_diff} of {len(digests)} digests differ from {against}")
    return 1 if n_diff or n_err else 0


def main() -> int:
    opts = {}
    for flag in ("--digest", "--against"):
        if flag in sys.argv:
            i = sys.argv.index(flag)
            opts[flag] = sys.argv[i + 1]
            del sys.argv[i : i + 2]
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    if "--digest" in opts:
        return digest_main(sf_dir, opts["--digest"], opts.get("--against"))
    if "--against" in opts:
        sys.exit("--against needs --digest OUT.json")

    from mrtweety_analytic_spark.queries import QUERIES
    from mrtweety_analytic_spark.session import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    n_fail = 0
    n_checked = 0
    for name in sorted(QUERIES):
        if name.startswith("s_"):
            continue
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            print(f"{name:34s} ERROR building plan: {e}"[:120])
            n_fail += 1
            continue
        n_checked += 1
        problems = []
        if "CartesianProduct" in plan:
            problems.append("CartesianProduct")
        if "BatchEvalPython" in plan and name not in PYEVAL_OK:
            problems.append("row-at-a-time PythonUDF (BatchEvalPython)")
        n_bnlj = plan.count("BroadcastNestedLoopJoin")
        if n_bnlj and name not in BNLJ_OK:
            # The sanctioned scalar-broadcast cross-join plans as a
            # BNLJ whose build side is a 1-row HashAggregate; require
            # at least one aggregate per BNLJ in the subtree as a
            # cheap structural proxy.
            n_agg = len(re.findall(r"HashAggregate|SortAggregate", plan))
            if n_agg < n_bnlj:
                problems.append(
                    f"{n_bnlj} BNLJ with only {n_agg} aggregates"
                )
        n_gw = _global_windows(plan)
        if n_gw and name not in GLOBAL_WINDOW_OK:
            problems.append(f"{n_gw} global (un-partitioned) window(s)")
        if problems:
            n_fail += 1
            print(f"{name:34s} FAIL  {'; '.join(problems)}")
    print(
        f"audited {n_checked} batch plans; "
        f"{'all clean' if n_fail == 0 else f'{n_fail} flagged'}"
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
