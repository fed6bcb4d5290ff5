"""Physical-plan audit over the bench suite: one row per query with the
scale-relevant plan properties (exchanges, python eval nodes, join
strategies, scan pushdown), plus the full formatted plan on request.

Usage:
  python tools/plan_audit.py              # table to stdout + PLAN_AUDIT.md
  python tools/plan_audit.py q1_pricing_summary   # full plan for one query

The pytest guards (tests/test_plans.py) enforce the hard rules; this tool
is the human-readable sweep — run it after touching an operator to see
what the optimizer actually chose.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench
import __spark_entry__ as entry
from fluent_bit_spark import get_spark

SF_DIR = "/root/testdata/sf0.001"

PY_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
            "FlatMapGroupsInPandas", "FlatMapGroupsInPandasWithState")

# text-scanning calls whose repeats in one plan mean the same string is
# parsed again per row (e.g. a parse lambda that names its input twice)
_PARSE_CALL = re.compile(r"\b(?:regexp_extract_all|regexp_extract|from_json)\(")


def dup_expr(plan: str) -> int:
    """Most times any single parse call, with identical text, appears in
    ``plan``. A call's text runs to its balanced closing parenthesis, or
    to the end of its line when an unescaped regex literal unbalances it."""
    counts: dict[str, int] = {}
    for m in _PARSE_CALL.finditer(plan):
        depth, end = 0, m.end() - 1
        while end < len(plan) and plan[end] != "\n":
            depth += {"(": 1, ")": -1}.get(plan[end], 0)
            end += 1
            if depth == 0:
                break
        call = plan[m.start():end]
        counts[call] = counts.get(call, 0) + 1
    return max(counts.values(), default=0)


def audit_one(spark, name: str) -> dict:
    # audit what the bench times: the bare operator for names the bench
    # remaps away from their verification-wrapped registry versions
    fn = bench.BENCH_FORMS.get(name) or entry.queries().get(name)
    if fn is None:
        return {"query": name, "error": "not in registry"}
    try:
        df = fn(spark, SF_DIR)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        qe = df._jdf.queryExecution()
        plan = qe.explainString(mode)
        optimized = qe.optimizedPlan().toString()
    except Exception as ex:  # pragma: no cover - diagnostic path
        return {"query": name, "error": f"{type(ex).__name__}: {ex}"}
    return {
        "query": name,
        "exchanges": len(re.findall(r"\(\d+\) Exchange", plan)),
        "python": ",".join(n for n in PY_NODES if n in plan) or "-",
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": "YES" if "CartesianProduct" in plan else "-",
        "pushed": "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "-",
        "dup_expr": dup_expr(optimized),
        "plan": plan,
    }


def main() -> int:
    spark = get_spark("plan-audit")
    if len(sys.argv) > 1:
        for name in sys.argv[1:]:
            r = audit_one(spark, name)
            print(f"===== {name}")
            print(r.get("plan", r.get("error")))
            if "dup_expr" in r:
                print(f"dup_expr: {r['dup_expr']}")
        return 0

    names = [
        q for q in bench.BENCH_QUERIES
        if q in entry.queries() or q in bench.BENCH_FORMS
    ]
    rows = [audit_one(spark, n) for n in names]
    hdr = f"| {'query':26s} | exch | python nodes | BHJ | SMJ | BNLJ | cartesian | pushdown | dup_expr |"
    sep = "|" + "-" * (len(hdr) - 2) + "|"
    lines = [hdr, sep]
    for r in rows:
        if "error" in r:
            lines.append(f"| {r['query']:26s} | ERROR: {r['error']} |")
            continue
        lines.append(
            f"| {r['query']:26s} | {r['exchanges']:4d} | {r['python']:12s} "
            f"| {r['bhj']:3d} | {r['smj']:3d} | {r['bnlj']:4d} "
            f"| {r['cartesian']:9s} | {r['pushed']:8s} | {r['dup_expr']:8d} |"
        )
    report = "\n".join(lines)
    print(report)
    # stamp the audited tree: the table is deterministic, so a re-run on
    # a tree whose plans are unchanged would be byte-identical and
    # invisible to report_guard's git freshness check
    try:
        import subprocess

        sha = subprocess.run(
            ["git", "-C", str(Path(__file__).resolve().parents[1]),
             "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, check=True,
        ).stdout.strip()
    except Exception:
        sha = "unknown"
    out = Path(__file__).resolve().parents[1] / "PLAN_AUDIT.md"
    out.write_text(
        "# Plan audit (bench suite, sf0.001 plans)\n\n"
        f"Audited tree: commit `{sha}` (+ this report commit).\n\n"
        "Generated by `python tools/plan_audit.py`. Columns: physical-plan\n"
        "exchange count, Python eval nodes (Arrow-batched pandas stages are\n"
        "listed — the documented codec/UDF paths), broadcast-hash /\n"
        "sort-merge / broadcast-nested-loop join counts, cartesian products\n"
        "(never acceptable), whether any filter was pushed into a scan, and\n"
        "dup_expr: the most times one regexp_extract_all / regexp_extract /\n"
        "from_json call, with identical text, appears in the optimized plan\n"
        "(above 1, the plan scans the same string more than once; whether\n"
        "each copy runs per row depends on codegen's subexpression\n"
        "elimination, which cannot reach into a higher-order lambda).\n\n"
        "Reading notes: BNLJ rows are the intentional model-sized broadcast\n"
        "probes (query sets, per-segment sketch tables) — the big side is\n"
        "never on both ends. dedup_minhash's static plan repeats the\n"
        "signature subtree per band; on file-scan sources AQE ReusedExchange\n"
        "collapses the duplicates at runtime (runtime-asserted in\n"
        "tests/test_plans.py), and on .cache()d sources — where\n"
        "InMemoryTableScan breaks exchange canonicalization — minhash_dedup\n"
        "auto-switches to an eagerly materialized signature persist; the\n"
        "measured A/Bs for both regimes are in the operator docstring.\n\n"
        + report
        + "\n"
    )
    print(f"\nwrote {out}")
    bad = [r for r in rows if r.get("cartesian") == "YES"]
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
