"""Compare query outputs between two repo trees (e.g. the working tree
and the .ab_base round-start worktree) on one fixture dir — the
result-identity gate for restructured queries.

Runs in TWO subprocesses (one per tree) so each tree's modules import
cleanly, writes sorted row dumps, diffs them here.  Next to the rows it
compares each query's physical plan (``executedPlan``, taken before the
query runs) after ``normalize_plan`` and prints PLAN IDENTICAL or a
unified diff.

Usage: python tools/diff_outputs.py <sf_dir> <query> [query ...]
"""

from __future__ import annotations

import difflib
import json
import os
import re
import subprocess
import sys

# Per-build counters that differ between two builds of the same plan:
# expression ids, exchange plan ids, lambda variable ids and the names
# of common subexpressions.
_PLAN_NOISE = [
    (re.compile(r"#\d+L?"), ""),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"(lambda [A-Za-z]+)_\d+"), r"\1"),
    (re.compile(r"_common_expr_\d+"), "_common_expr"),
]


def normalize_plan(plan: str) -> str:
    for pat, repl in _PLAN_NOISE:
        plan = pat.sub(repl, plan)
    return plan


RUNNER = r"""
import sys, json
root = sys.argv[1]
sf_dir = sys.argv[2]
names = sys.argv[3:]
sys.path.insert(0, root)
from quant_market_data_pipeline_spark.queries import load_all
from quant_market_data_pipeline_spark.session import get_spark
spark = get_spark(app_name="diff_outputs")
spark.sparkContext.setLogLevel("ERROR")
registry = load_all()
out = {}
for name in names:
    df = registry[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    cols = sorted(df.columns)
    rows = sorted(
        tuple(repr(r[c]) for c in cols) for r in df.collect()
    )
    out[name] = {"cols": cols, "rows": rows, "plan": plan}
print("ROWS " + json.dumps(out))
"""


def run(root: str, sf_dir: str, names: list[str]) -> dict:
    env = dict(os.environ)
    res = subprocess.run(
        [sys.executable, "-c", RUNNER, root, sf_dir, *names],
        capture_output=True,
        text=True,
        env=env,
    )
    for line in res.stdout.splitlines():
        if line.startswith("ROWS "):
            return json.loads(line[5:])
    print(res.stdout[-3000:], file=sys.stderr)
    print(res.stderr[-3000:], file=sys.stderr)
    raise SystemExit(f"runner failed for {root}")


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = os.path.join(here, ".ab_base")
    new = run(here, sf_dir, names)
    old = run(base, sf_dir, names)
    ok = True
    for name in names:
        same_cols = old[name]["cols"] == new[name]["cols"]
        same_rows = old[name]["rows"] == new[name]["rows"]
        print(
            f"{name}: cols_match={same_cols} rows_match={same_rows} "
            f"(n={len(new[name]['rows'])} vs {len(old[name]['rows'])})"
        )
        ok = ok and same_cols and same_rows
        old_plan = normalize_plan(old[name]["plan"]).splitlines()
        new_plan = normalize_plan(new[name]["plan"]).splitlines()
        if old_plan == new_plan:
            print(f"{name}: PLAN IDENTICAL")
        else:
            print(f"{name}: plan diff (base -> working tree)")
            for line in difflib.unified_diff(
                old_plan, new_plan, "base", "working", lineterm=""
            ):
                print(line)
    print("IDENTICAL" if ok else "DIVERGED")


if __name__ == "__main__":
    main()
