"""Seeded inputs: the star-schema tables and the CTGov study corpus.

Sizes are fixed by the scale factor; only the values depend on the
seed, so every seed asks the engine for the same amount of work.
The column domains mirror the repository's test tables (uniform keys
and flags, dates over 1995-2001, an ordered 30-day event stream).
"""

from __future__ import annotations

import functools
import json
import os
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400 * 1_000_000


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the eight engine tables as one-row-group parquet files
    under ``out_dir``; returns the row count of each."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    i32, i64 = pa.int32(), pa.int64()

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array(
                [f"{c} {n}" for c, n in zip(
                    np.asarray(_COLORS)[rng.integers(0, 8, n_part)],
                    np.asarray(_NOUNS)[rng.integers(0, 8, n_part)],
                )]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, _TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * _DAY_US),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_line) * _DAY_US),
        }),
        "events": _events(rng, n_ev, max(1, int(15_000 * sf))),
        "documents": _documents(rng, max(500, int(50_000 * sf))),
        "embeddings": _embeddings(rng, max(500, int(20_000 * sf))),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)
    return {name: t.num_rows for name, t in tables.items()}


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    gaps = rng.exponential(1.0, n)
    span_us = 30 * _DAY_US - 60_000_000
    offsets = np.cumsum(gaps) / gaps.sum() * span_us
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts("2024-01-01", offsets),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
_LANGS = ["en", "zh", "de", "fr", "es"]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Texts of 10-99 words over a small vocabulary; one in twenty is a
    near-duplicate (another document's text plus `` dup``)."""
    words = np.asarray(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in rng.integers(10, 100, n)]
    n_dup = n // 20
    for dst, src in zip(rng.choice(n, n_dup, replace=False), rng.integers(0, n, n_dup)):
        texts[dst] = texts[src] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(_LANGS, dtype=object)[
            rng.choice(5, n, p=[0.44, 0.14, 0.14, 0.14, 0.14])
        ]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    """Unit vectors loosely clustered around ``k`` labelled centroids."""
    centroids = rng.normal(size=(k, dim))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, k, n)
    vecs = 1.2 * centroids[labels] + rng.normal(size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


# ------------------------------------------------------------ CTGov corpus


@functools.lru_cache(maxsize=8)
def corpus_ids(seed: int, n: int) -> tuple[int, ...]:
    """The ``n`` distinct study numbers of corpus ``seed``, in the order
    the API serves them."""
    rng = np.random.default_rng(seed)
    return tuple(int(i) for i in rng.choice(10**7, size=n, replace=False))


def corpus_json(seed: int, n: int) -> list[str]:
    """The corpus as the JSON documents the API returns."""
    from ctgov_ai_etl_spark.fixtures import make_raw_study

    return [json.dumps(make_raw_study(i), sort_keys=True) for i in corpus_ids(seed, n)]


def corpus_transport(seed: int, n: int, page_size: int, indexed: bool = False, log_path: str = ""):
    """A paginated CTGov v2 transport over corpus ``seed`` (the REST
    source's ``transport_factory`` seam).  Token mode serves opaque
    ``nextPageToken`` offsets; indexed mode treats the token as a page
    number.  With ``log_path`` every served page appends one
    ``"<rows>\\n"`` line there, so the benchmark can count fetches made
    in the worker processes."""
    from ctgov_ai_etl_spark.fixtures import make_raw_study

    ids = corpus_ids(seed, n)

    def transport(params: dict[str, Any], token: Any) -> dict[str, Any]:
        size = int(params.get("pageSize", page_size))
        start = (int(token) if token else 0) * (size if indexed else 1)
        page = [make_raw_study(i) for i in ids[start:start + size]]
        if log_path:
            with open(log_path, "a") as fh:
                fh.write(f"{len(page)}\n")
        out: dict[str, Any] = {"studies": page}
        if start + size < n:
            out["nextPageToken"] = str(start + size)
        return out

    return transport
