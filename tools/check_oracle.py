"""Local differential harness: Spark query vs DuckDB oracle.

Mimics the driver's correctness gate (row count + schema +
order-insensitive value hash at sf 0.01) but with stricter value
comparison: every cell is canonicalized exactly (floats via repr,
i.e. bit-equality), so anything that passes here passes any
reasonable normalization the driver applies.

Each query's leftovers are released (``cache.release_all()``) after
its compare.  The sweep ends with one hygiene line: scratch
directories still held, tracked persists and temp views outside the
testdata tables.  Any of them non-zero fails the run.

Usage:
    python tools/check_oracle.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import datetime as _dt
import math
import sys
import time
import traceback

import duckdb

sys.path.insert(0, ".")

from ctgov_ai_etl_spark.operators import cache  # noqa: E402
from ctgov_ai_etl_spark.queries import load_all  # noqa: E402
from ctgov_ai_etl_spark.schemas import TABLE_NAMES  # noqa: E402
from ctgov_ai_etl_spark.session import get_spark  # noqa: E402

_TYPE_FAMILY = {
    # spark simpleString prefixes / duckdb type names → family
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "integer": "int", "hugeint": "int", "long": "int",
    "float": "float", "double": "float", "real": "float",
    "string": "str", "varchar": "str",
    "boolean": "bool",
    "timestamp": "timestamp", "timestamp_ns": "timestamp",
    "date": "date",
    "binary": "binary", "blob": "binary",
}


# Oracle-portability guard: the only DuckDB result types allowed in an
# oracle contract.  Anything outside this set (most notably HUGEINT,
# which `sum(BIGINT)` and `BIGINT // HUGEINT` produce) is
# evaluated/canonicalized differently across DuckDB versions and MUST
# be CAST away in the oracle SQL — leaving it in turns "passes my
# DuckDB" into "fails another DuckDB" (as seq_transition_matrix and
# dq_benford once did).
_PORTABLE_DUCK_TYPES = {
    "tinyint", "smallint", "integer", "bigint",
    "float", "double", "varchar", "boolean", "date",
    "timestamp", "timestamp_ns", "blob",
}


def portable_type_problems(d_cols: list[str], d_types_raw: list) -> list[str]:
    """Return a problem string per oracle column whose DuckDB type is
    outside the portable allowlist (nested element types included)."""
    out = []
    for c, t in zip(d_cols, d_types_raw):
        raw = str(t).strip().lower()
        # strip nested wrappers down to the element types
        inner = (
            raw.replace("[]", " ")
            .replace("struct(", " ")
            .replace("map(", " ")
            .replace(")", " ")
            .replace(",", " ")
        )
        for tok in inner.split():
            if tok.startswith("decimal"):
                continue
            if tok in _PORTABLE_DUCK_TYPES:
                continue
            # struct field names etc. — only flag known-bad scalars
            if tok in ("hugeint", "uhugeint", "utinyint", "usmallint",
                       "uinteger", "ubigint", "interval", "time", "uuid",
                       "bit", "timestamptz", "timestamp_s", "timestamp_ms"):
                out.append(
                    f"non-portable oracle type[{c}]: {raw} — CAST it to a "
                    f"portable type in the oracle SQL"
                )
                break
    return out


def type_family(type_name: str) -> str:
    t = type_name.strip().lower()
    if t.startswith("decimal"):
        return "float"
    if t.startswith(("array", "list")) or t.endswith("[]"):
        return "array"
    if t.startswith(("struct", "row")):
        return "struct"
    if t.startswith("map"):
        return "map"
    return _TYPE_FAMILY.get(t, t)


def canon_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (_dt.datetime,)):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return "0x" + v.hex()
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon_cell(r[i]) for i in order) for r in rows)


def compare(name: str, spec, spark, con, sf_dir: str) -> dict:
    t0 = time.time()
    sdf = spec.fn(spark, sf_dir)
    s_cols = sdf.columns
    s_types = [type_family(f.dataType.simpleString()) for f in sdf.schema.fields]
    s_rows = [tuple(r) for r in sdf.collect()]
    t_spark = time.time() - t0

    if spec.oracle is None:
        return {
            "name": name, "status": "rows-only", "rows": len(s_rows),
            "spark_s": round(t_spark, 2),
        }

    t0 = time.time()
    rel = con.sql(spec.oracle)
    d_cols = list(rel.columns)
    d_types = [type_family(str(t)) for t in rel.types]
    d_rows = rel.fetchall()
    t_duck = time.time() - t0

    problems = portable_type_problems(d_cols, rel.types)
    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"columns differ: spark={sorted(s_cols)} duck={sorted(d_cols)}")
    else:
        s_tmap = dict(zip(s_cols, s_types))
        d_tmap = dict(zip(d_cols, d_types))
        for c in s_cols:
            if s_tmap[c] != d_tmap[c]:
                problems.append(f"type[{c}]: spark={s_tmap[c]} duck={d_tmap[c]}")
    if len(s_rows) != len(d_rows):
        problems.append(f"rowcount: spark={len(s_rows)} duck={len(d_rows)}")
    if not problems:
        cs, cd = canon_rows(s_cols, s_rows), canon_rows(d_cols, d_rows)
        if cs != cd:
            diff_i = next(i for i, (a, b) in enumerate(zip(cs, cd)) if a != b)
            problems.append(
                f"values differ at sorted-row {diff_i}:\n  spark={cs[diff_i]}\n  duck ={cd[diff_i]}"
            )
    return {
        "name": name,
        "status": "PASS" if not problems else "FAIL",
        "rows": len(s_rows),
        "spark_s": round(t_spark, 2),
        "duck_s": round(t_duck, 2),
        "problems": problems,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--json",
        metavar="PATH",
        help="also write the per-query results and the pass/fail "
        "counts to PATH as one JSON object (name -> {status, rows, ...})",
    )
    args = ap.parse_args()

    registry = load_all()
    names = args.names or list(registry)
    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'"
        )

    n_pass = n_fail = n_rowsonly = 0
    results: dict[str, dict] = {}
    for name in names:
        if name not in registry:
            print(f"?? unknown query {name}")
            n_fail += 1
            continue
        try:
            r = compare(name, registry[name], spark, con, args.sf)
        except Exception as exc:
            print(f"ERROR {name}")
            traceback.print_exc()
            results[name] = {
                "status": "ERROR",
                "err": f"{type(exc).__name__}: {exc}"[:300],
            }
            n_fail += 1
            continue
        finally:
            cache.release_all()
        results[name] = {k: v for k, v in r.items() if k != "name"}
        tag = r["status"]
        extra = f" ({r['rows']} rows, spark {r['spark_s']}s)"
        print(f"{tag:9s} {name}{extra}")
        for p in r.get("problems", []):
            print(f"          {p}")
        if tag == "PASS":
            n_pass += 1
        elif tag == "rows-only":
            n_rowsonly += 1
        else:
            n_fail += 1
    print(f"\n{n_pass} pass, {n_rowsonly} rows-only, {n_fail} fail / {len(names)} total")
    # Whatever a query creates, its release leaves nothing behind.
    held, pinned = cache.held_dirs(), cache.tracked_count()
    views = [
        t.name for t in spark.catalog.listTables()
        if t.isTemporary and t.name not in TABLE_NAMES
    ]
    leftovers = len(held) + pinned + len(views)
    print(
        f"hygiene: {len(held)} held dirs, {pinned} tracked persists, "
        f"{len(views)} stray temp views"
    )
    for left in held + views:
        print(f"          {left}")
    if args.json:
        import json as _json

        summary = {
            "duckdb_version": duckdb.__version__,
            "sf": args.sf,
            "n_pass": n_pass,
            "n_rows_only": n_rowsonly,
            "n_fail": n_fail,
            "n_total": len(names),
            "queries": results,
        }
        with open(args.json, "w") as fh:
            _json.dump(summary, fh, indent=1, sort_keys=True)
        print(f"wrote {args.json}")
    return 1 if n_fail or leftovers else 0


if __name__ == "__main__":
    sys.exit(main())
