"""The two workloads: which items a pass runs, and how each item's
output is checked against DuckDB outside the timed window."""

from __future__ import annotations

import importlib.util
import json
import math
import os
import random
from dataclasses import dataclass, field
from typing import Any

import duckdb
import pyarrow as pa

from perfbench import datagen

#: Scale factor of the generated tables (lineitem: 6M x SF rows).
SF = 0.01

#: Studies in one ETL item's corpus, and the page size it is served in.
#: Indexed paging reads about 1 200 studies/s against 6 000 in token
#: mode (the CSV sink's ``coalesce(1)`` reads its page partitions one
#: after another), so its corpus is smaller.  Smaller corpora would let
#: a run take several passes, but at 20 000 studies a fixed 2.5 s per
#: ``run_pipeline`` call is most of an item's time.
ETL_STUDIES = 40_000
ETL_INDEXED_STUDIES = 8_000
ETL_PAGE_SIZE = 1000

#: Catalog items by kind.  ``sql``: JVM-only relational plans (table
#: loads, planning and scheduling dominate).  ``llm``: the LLM-pipeline
#: family, heavy on Python workers and shuffles.  ``stream``: stream
#: runners, whose micro-batches run inside the query function.
CATALOG = {
    "sql": (
        "tpch_q3_priority",
        "tpch_q6_forecast_revenue",
        "agg_pricing_summary",
        "win_topk_per_group",
        "join_asof",
        "essie_predicates",
    ),
    "llm": (
        "dedup_minhash_lsh",
        "mm_audio_wav_meta",
    ),
    "stream": ("stream_run_tumbling", "stream_run_stateful"),
}

#: ETL config variants: token paging, the ``max_rows`` cost cap, and
#: indexed (parallel) paging.
ETL_VARIANTS = ("etl_plain", "etl_cost_cap", "etl_indexed")

WORKLOADS = ("etl_ctgov", "catalog")

_PROMPT = "Criteria: {criteria}"
_AI_COLUMN = "ai_determined_value"


@dataclass(frozen=True)
class Item:
    """One timed unit of work: a registered query, or one ETL run."""

    name: str
    kind: str
    corpus_seed: int = 0
    studies: int = 0

    @property
    def cost_cap(self) -> int | None:
        return self.studies // 2 if self.name == "etl_cost_cap" else None

    @property
    def corpus_pages(self) -> int:
        return math.ceil(self.studies / ETL_PAGE_SIZE)


@dataclass
class Workload:
    name: str
    items: list[Item]
    #: Wall time of a warm pass on a 4-core host.
    pass_s: float
    rng: random.Random = field(repr=False, default_factory=random.Random)

    def passes(self, seconds: float) -> int:
        """Timed passes in a run of ``seconds``: as many whole passes as
        fit, and at least one."""
        return max(1, int(seconds // self.pass_s))

    def next_pass(self) -> list[Item]:
        """The items of one pass, in an order drawn from the seed."""
        order = list(self.items)
        self.rng.shuffle(order)
        return order


def make_workload(name: str, seed: int) -> Workload:
    rng = random.Random(seed)
    if name == "catalog":
        items = [Item(n, kind) for kind, names in CATALOG.items() for n in names]
        pass_s = 10.0
    elif name == "etl_ctgov":
        corpus = rng.randrange(1 << 31)
        items = [
            Item(v, "etl", corpus, ETL_INDEXED_STUDIES if v == "etl_indexed" else ETL_STUDIES)
            for v in ETL_VARIANTS
        ]
        pass_s = 20.0
    else:
        raise ValueError(f"unknown workload {name!r}; expected one of {WORKLOADS}")
    return Workload(name, items, pass_s, rng)


def etl_config(item: Item, page_log: str = "") -> dict[str, Any]:
    """The ``run_pipeline`` config of one ETL item."""
    indexed = item.name == "etl_indexed"
    page_size = min(ETL_PAGE_SIZE, item.studies)
    ctgov: dict[str, Any] = {
        "transport_factory": "perfbench.datagen:corpus_transport",
        "transport_args": json.dumps([item.corpus_seed, item.studies, page_size, indexed, page_log]),
        "page_size": page_size,
        # The reader stops at max_pages; size it to the corpus so a
        # truncated read cannot pass for a fast one.
        "max_pages": math.ceil(item.studies / page_size),
    }
    if indexed:
        ctgov["paging"] = "indexed"
    ai: dict[str, Any] = {"enabled": True, "column_name": _AI_COLUMN}
    if item.cost_cap is not None:
        ai["max_rows"] = item.cost_cap
    return {"ctgov": ctgov, "gemini": {"row_prompt_template": _PROMPT}, "ai_processing": ai}


# ------------------------------------------------------------------ checks


def _check_oracle_module(root: str):
    """``tools/check_oracle.py``: its canonical, order-insensitive row
    comparison is the repository's definition of a correct answer."""
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Checker:
    """DuckDB replays of every item's expected output."""

    def __init__(self, root: str, data_dir: str):
        self.co = _check_oracle_module(root)
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        from ctgov_ai_etl_spark.schemas import TABLE_NAMES

        for t in TABLE_NAMES:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self._expected: dict[Any, Any] = {}

    def check_query(self, name: str, oracle: str, cols: list[str], types: list[str], rows: list) -> str | None:
        """``None`` when the Spark result equals the DuckDB oracle's."""
        co = self.co
        if name not in self._expected:
            rel = self.con.sql(oracle)
            d_cols = list(rel.columns)
            d_types = [co.type_family(str(t)) for t in rel.types]
            self._expected[name] = (d_cols, d_types, co.canon_rows(d_cols, rel.fetchall()))
        d_cols, d_types, d_rows = self._expected[name]
        if sorted(cols) != sorted(d_cols):
            return f"columns differ: spark={sorted(cols)} duck={sorted(d_cols)}"
        s_types = dict(zip(cols, (co.type_family(t) for t in types)))
        for c, t in zip(d_cols, d_types):
            if s_types[c] != t:
                return f"type[{c}]: spark={s_types[c]} duck={t}"
        if len(rows) != len(d_rows):
            return f"rowcount: spark={len(rows)} duck={len(d_rows)}"
        if co.canon_rows(cols, [tuple(r) for r in rows]) != d_rows:
            return "values differ"
        return None

    def check_etl(self, item: Item, csv_path: str) -> tuple[str | None, int, int]:
        """``(problem, rows, labelled rows)`` of one ETL CSV.  It must hold
        every study of the corpus (no truncated read), with the flatten
        columns and labels a SQL replay gives, compared as multisets."""
        key = (item.corpus_seed, item.studies, item.cost_cap)
        if key not in self._expected:
            self._expected[key] = self._etl_expected(item)
        cols, expected = self._expected[key]
        self.con.execute(
            f"CREATE OR REPLACE TEMP TABLE got_raw AS "
            f"SELECT * FROM read_csv('{csv_path}', header=true, all_varchar=true)"
        )
        header = self.con.table("got_raw").columns
        if header != cols:
            return f"csv header {header} != {cols}", 0, 0
        # The CSV reader reads an empty field as NULL.
        self.con.execute(
            "CREATE OR REPLACE TEMP VIEW got AS SELECT "
            + ", ".join(f"coalesce({c}, '') AS {c}" for c in cols)
            + " FROM got_raw"
        )
        rows, labelled = self.con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE {_AI_COLUMN} <> 'N/A') FROM got"
        ).fetchone()
        if rows != item.studies:
            return f"csv rows {rows} != corpus size {item.studies}", rows, labelled
        (differing,) = self.con.execute(f"""
            SELECT count(*) FROM (
              (SELECT * FROM got EXCEPT ALL SELECT * FROM {expected})
              UNION ALL
              (SELECT * FROM {expected} EXCEPT ALL SELECT * FROM got))
        """).fetchone()
        if differing:
            return f"{differing} csv rows differ from the SQL replay", rows, labelled
        return None, rows, labelled

    def _etl_expected(self, item: Item) -> tuple[list[str], str]:
        """The header and the name of a DuckDB table holding the rows the
        item's CSV must contain."""
        from ctgov_ai_etl_spark.operators.flatten import FIELD_PATHS
        from ctgov_ai_etl_spark.operators.llm import PREGNANCY_RULES
        from ctgov_ai_etl_spark.schemas import CSV_SINK_COLUMNS

        corpus = f"corpus_{item.corpus_seed}_{item.studies}"
        if corpus not in self._expected:
            self.con.register("raw", pa.table({"raw": datagen.corpus_json(item.corpus_seed, item.studies)}))
            self.con.execute(f"CREATE TEMP TABLE {corpus} AS SELECT * FROM raw")
            self.con.unregister("raw")
            self._expected[corpus] = corpus
        fields = ", ".join(
            f"coalesce(json_extract_string(raw, '$.{p}'), 'N/A') AS {n}"
            for n, p in FIELD_PATHS.items()
        )
        label = PREGNANCY_RULES.as_sql_case("concat('Criteria: ', criteria)")
        if item.cost_cap is not None:
            label = (
                f"CASE WHEN row_number() OVER (ORDER BY nct_id) <= {item.cost_cap} "
                f"THEN {label} ELSE 'N/A' END"
            )
        cols = list(CSV_SINK_COLUMNS) + [_AI_COLUMN]
        select = ", ".join("'' AS " + c if c in ("minimum_age", "maximum_age") else c for c in cols[:-1])
        table = f"expected_{item.corpus_seed}_{item.studies}_{item.cost_cap or 0}"
        self.con.execute(f"""
            CREATE OR REPLACE TEMP TABLE {table} AS
            WITH flat AS (SELECT {fields} FROM {corpus}),
            years AS (
              SELECT *, CASE WHEN start_date <> 'N/A' AND contains(start_date, '-')
                             THEN split_part(start_date, '-', 1) ELSE 'N/A' END AS start_year
              FROM flat)
            SELECT {select}, {label} AS {_AI_COLUMN} FROM years
        """)
        return cols, table

    def close(self) -> None:
        self.con.close()
