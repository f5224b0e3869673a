"""Regenerate prose counts that must track the query registry.

The README's catalog count drifted twice (prose once said 323 while
``load_all()`` registered 330), so the count is now a generated
artifact: this tool rewrites the ``N named queries`` token in
README.md from ``len(load_all())`` and fails loudly (exit 1) when
run with ``--check`` and the prose is stale.  Run it at the end of
every round, before committing artifacts.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
_PATTERN = re.compile(r"\b(\d+) named queries\b")


def main() -> int:
    sys.path.insert(0, str(ROOT))
    from ctgov_ai_etl_spark.queries import load_all

    n = len(load_all())
    check = "--check" in sys.argv
    stale = False
    readme = ROOT / "README.md"
    text = readme.read_text()
    new = _PATTERN.sub(f"{n} named queries", text)
    counts = [int(m) for m in _PATTERN.findall(text)]
    if any(c != n for c in counts):
        stale = True
        if check:
            print(f"STALE: README says {counts}, registry has {n}")
        else:
            readme.write_text(new)
            print(f"README.md: {counts} -> {n} named queries")
    else:
        print(f"README.md in sync ({n} named queries)")
    return 1 if (check and stale) else 0


if __name__ == "__main__":
    raise SystemExit(main())
