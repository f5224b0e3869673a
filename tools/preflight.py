"""One-command hygiene gate: every mechanical check, runnable before
committing.

    python tools/preflight.py            # fast gates (seconds)
    python tools/preflight.py --full     # + full-registry plan sizes
                                         #   and the full oracle sweep

Gates:
1. README/COVERAGE counts in sync with the registry
   (``tools/sync_counts.py --check``).
2. Registry integrity: every query has an oracle (no rows-only
   entries), entry() importable.
3. ``--full``: plan-size + portable-output budget over the whole
   registry via ``tools/explain_audit.py --sizes-all`` (5k-line plan
   budget; final schemas must be scalar-only — any array/map/struct
   output column fails, since a generic result harness cannot
   sort/hash list cells, as fn_regex_family once showed).
4. ``--full`` also re-verifies every registered query against its
   DuckDB oracle at sf0.01 (``tools/check_oracle.py``), which fails
   too if a released query leaves a scratch directory, a tracked
   persist or a stray temp view behind.

Exit code 0 = all gates green.  Each gate prints PASS/FAIL with the
underlying tool's output on failure.
"""

from __future__ import annotations

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


def main() -> int:
    full = "--full" in sys.argv
    ok = True
    ok &= _run("sync_counts --check",
               [sys.executable, "tools/sync_counts.py", "--check"])
    ok &= _gate_registry()
    if full:
        ok &= _run("plan sizes (full registry sweep)",
                   [sys.executable, "tools/explain_audit.py", "--sizes-all"])
        ok &= _run("oracle sweep (full registry, sf0.01)",
                   [sys.executable, "tools/check_oracle.py"])
    print(f"\npreflight: {'ALL GREEN' if ok else 'FAILURES ABOVE'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
