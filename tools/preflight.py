"""One-command hygiene gate (VERDICT r12 item 8): every mechanical
check that previously lived as COVERAGE prose, runnable before
committing round artifacts.

    python tools/preflight.py            # fast gates (~1 min)
    python tools/preflight.py --full     # + full-registry plan sizes
                                         #   and the stalest-N oracle
                                         #   re-verification (~10 min)

Gates:
1. README/COVERAGE counts in sync with the registry
   (``tools/sync_counts.py --check``).
2. Registry integrity: every query has an oracle (no rows-only
   entries), entry() importable.
3. Plan-size + portable-output budget: ``--full`` sweeps the whole
   registry via ``tools/explain_audit.py --sizes-all`` (5k-line plan
   budget; final schemas must be scalar-only — any array/map/struct
   output column fails, since the driver harness cannot sort/hash
   list cells: the fn_regex_family r13 incident); the fast path
   re-checks the committed PLANSIZE.json for over-budget entries,
   construction errors, and non-portable schemas.
4. ``--full`` also re-verifies the 90 stalest-evidence queries
   against the DuckDB oracle (``tools/check_oracle.py --stalest 90``).

Exit code 0 = all gates green.  Each gate prints PASS/FAIL with the
underlying tool's output on failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(label: str, cmd: list[str]) -> bool:
    proc = subprocess.run(
        cmd, cwd=HERE, capture_output=True, text=True, timeout=3600
    )
    ok = proc.returncode == 0
    print(f"{'PASS' if ok else 'FAIL'}  {label}")
    if not ok:
        sys.stdout.write(proc.stdout[-4000:])
        sys.stderr.write(proc.stderr[-4000:])
    return ok


def _gate_registry() -> bool:
    sys.path.insert(0, HERE)
    from ctgov_ai_etl_spark.queries import load_all

    reg = load_all()
    rows_only = [n for n, s in reg.items() if s.oracle is None]
    ok = not rows_only
    print(f"{'PASS' if ok else 'FAIL'}  registry: {len(reg)} queries, "
          f"{len(rows_only)} rows-only")
    if rows_only:
        print(f"  rows-only entries: {rows_only}")
    import __spark_entry__  # noqa: F401  (import = contract check)

    print("PASS  __spark_entry__ imports (entry/queries/oracle_sql)")
    return ok


def _gate_plansize_cached() -> bool:
    path = os.path.join(HERE, "PLANSIZE.json")
    if not os.path.exists(path):
        print("FAIL  PLANSIZE.json missing — run "
              "`python tools/explain_audit.py --sizes-all`")
        return False
    with open(path) as fh:
        d = json.load(fh)
    over = d.get("over_budget", [])
    errors = d.get("errors", {})
    nonportable = d.get("nonportable", {})
    ok = not (over or errors or nonportable)
    print(f"{'PASS' if ok else 'FAIL'}  plan sizes (cached): "
          f"{d.get('queries')} plans, {len(over)} over "
          f"{d.get('budget_lines')}-line budget, {len(errors)} errors, "
          f"{len(nonportable)} non-portable schemas")
    if over:
        print(f"  over budget: {over}")
    if errors:
        print(f"  construction errors: {sorted(errors)}")
    if nonportable:
        print(f"  non-portable (array/map/struct) outputs: {nonportable}")
    return ok


def main() -> int:
    full = "--full" in sys.argv
    ok = True
    ok &= _run("sync_counts --check",
               [sys.executable, "tools/sync_counts.py", "--check"])
    ok &= _gate_registry()
    if full:
        ok &= _run("plan sizes (full registry sweep)",
                   [sys.executable, "tools/explain_audit.py", "--sizes-all"])
        ok &= _run("oracle re-verification (stalest 90)",
                   [sys.executable, "tools/check_oracle.py",
                    "--stalest", "90"])
    else:
        ok &= _gate_plansize_cached()
    print(f"\npreflight: {'ALL GREEN' if ok else 'FAILURES ABOVE'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
