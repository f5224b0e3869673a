"""``llm_classify`` — per-row LLM enrichment as a first-class operator
(reference R10-R15 generalized; /root/reference/etl.py:236-423).

The reference's central scalability sin is one synchronous model call
per row on a single thread with a 0.5 s sleep (etl.py:292, 331 —
ceiling ≈ 2 rows/s).  Here the same semantics become an Arrow-batched
``mapInPandas`` stage:

- **client init once per task**, not per row (the reference hoists its
  system instruction once at model init, etl.py:263-266 — the iterator
  UDF form is the Spark analog);
- **token-bucket rate limit per partition**: cluster-wide rate =
  partitions × per-partition rate, an explicit knob instead of an
  accidental single-thread ceiling;
- **templated prompt** with the reference's KeyError→skip semantics
  (etl.py:317-323);
- **error → NULL → 'N/A'** fill (etl.py:400-406);
- **cost cap**: ``max_rows`` classifies only the first N rows under an
  explicit order and passes the remainder through with 'N/A'
  (etl.py:355-364, 409-414) — a LIMIT-and-union, not a drop.

Correctness testing uses the deterministic keyword-rule client
(mirrors the category set of /root/reference/config.example.yaml:20-28)
so the operator is DuckDB-oracle-checkable (CASE WHEN ... LIKE).
"""

from __future__ import annotations

import re
import string
import time
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ctgov_ai_etl_spark.operators.limits import deterministic_split

NA = "N/A"


class LLMClient:
    """Minimal client protocol: ``classify(prompt) -> str | None``."""

    def classify(self, prompt: str) -> str | None:  # pragma: no cover
        raise NotImplementedError


@dataclass(frozen=True)
class KeywordRuleClient(LLMClient):
    """Deterministic mock: first (substring, label) rule that matches
    the case-folded prompt wins; no match → ``default``.

    SQL-expressible (CASE WHEN contains(lower(x), kw) THEN label ...),
    which is what makes llm_classify oracle-checkable without network
    access (SURVEY.md §5, FIXTURES.md §B4).
    """

    rules: tuple[tuple[str, str], ...]
    default: str = "NOT MENTIONED"

    def classify(self, prompt: str) -> str | None:
        low = prompt.lower()
        for kw, label in self.rules:
            if kw in low:
                return label
        return self.default

    def as_sql_case(self, expr: str) -> str:
        """The DuckDB CASE expression equivalent to this client applied
        to SQL expression ``expr`` (assuming the prompt == expr)."""
        whens = "\n".join(
            f"WHEN contains(lower({expr}), '{kw}') THEN '{label}'"
            for kw, label in self.rules
        )
        return f"CASE {whens} ELSE '{self.default}' END"


# The pregnancy-classification category set the reference's prompt
# defines (config.example.yaml:20-28). Rule order = precedence.
PREGNANCY_RULES = KeywordRuleClient(
    rules=(
        ("pregnant or postpartum", "PREGNANT OR POSTPARTUM"),
        ("postpartum or pregnant", "PREGNANT OR POSTPARTUM"),
        ("postpartum", "POSTPARTUM"),
        ("trying to get pregnant", "FERTILITY"),
        ("negative pregnancy test", "EXCLUDE_PREGNANCY"),
        ("must be pregnant", "ONLY_PREGNANCY"),
        ("pregnan", "INCLUDE_PREGNANCY"),
    ),
)


def keyword_rule_client_factory(gem_cfg: dict) -> LLMClient:
    """Config-driven mock factory, the default ``gemini.client_factory``
    (the reference swaps in its live client purely via config,
    etl.py:236-273): ``gemini.rules`` as [[substring, label], ...] with
    optional ``gemini.default_label``; no ``rules`` → the reference's
    pregnancy category set."""
    rules = gem_cfg.get("rules")
    if not rules:
        return PREGNANCY_RULES
    return KeywordRuleClient(
        rules=tuple((str(k), str(v)) for k, v in rules),
        default=str(gem_cfg.get("default_label", "NOT MENTIONED")),
    )


class TokenBucket:
    """Per-task rate limiter. The reference sleeps a flat
    ``api_delay`` after every call (etl.py:328-331); a token bucket
    gives the same steady-state rate without penalizing short bursts."""

    def __init__(self, rate_per_sec: float, burst: int = 1):
        self.rate = rate_per_sec
        self.capacity = float(burst)
        self.tokens = float(burst)
        self.t_last = time.monotonic()

    def acquire(self) -> None:
        while True:
            now = time.monotonic()
            self.tokens = min(self.capacity, self.tokens + (now - self.t_last) * self.rate)
            self.t_last = now
            if self.tokens >= 1.0:
                self.tokens -= 1.0
                return
            time.sleep(min(1.0, (1.0 - self.tokens) / self.rate))


def format_prompt(template: str, row: dict) -> str | None:
    """Reference semantics: ``template.format(**row)``; missing key →
    None → the row is skipped (classified 'N/A') rather than failing
    the job (etl.py:317-323)."""
    try:
        return template.format(**row)
    except (KeyError, IndexError):
        return None


def template_fields(template: str) -> set[str] | None:
    """The root names ``template.format(**row)`` looks up (``criteria``
    for ``{criteria!r:>{width}}`` — with ``width`` from its nested spec
    — or ``meta`` for ``{meta[arm]}``), or None when the template does
    not parse, so the caller formats with every column and fails the
    way ``str.format`` does.  Positional fields (``{0}``, ``{}``) are
    kept: no row dict satisfies them, so they skip the row either way."""
    try:
        parsed = list(string.Formatter().parse(template))
    except ValueError:
        return None
    fields: set[str] = set()
    for _, name, spec, _ in parsed:
        if name is None:
            continue
        fields.add(re.match(r"[^.\[]*", name).group())
        if spec:
            nested = template_fields(spec)
            if nested is None:
                return None
            fields |= nested
    return fields


def label_row(
    client: LLMClient, limiter: TokenBucket | None, template: str, row: dict
) -> str | None:
    """Label one row the reference's way: a prompt missing a template
    key is skipped (etl.py:317-323), each call takes a rate-limit
    permit, and a failing call yields None (R12, etl.py:299-302) — the
    caller fills None with 'N/A'."""
    prompt = format_prompt(template, row)
    if prompt is None:
        return None
    if limiter is not None:
        limiter.acquire()
    try:
        return client.classify(prompt)
    except Exception:
        return None


def llm_classify(
    df: DataFrame,
    prompt_template: str,
    out_col: str = "ai_determined_value",
    client_factory: Callable[[], LLMClient] = lambda: PREGNANCY_RULES,
    rate_per_sec: float | None = None,
    max_rows: int | None = None,
    order_cols: Iterable[str] | None = None,
    only_ids: tuple[str, Iterable[str]] | None = None,
    per_bucket_cap: int | None = None,
    bucket_key: str | None = None,
    n_buckets: int = 64,
) -> DataFrame:
    """Append an LLM-classified column to ``df``.

    ``only_ids=(id_col, ids)`` reproduces the reference's
    debug_only_tuning_trials narrowing (R9): rows outside the set
    join the pass-through remainder.

    Two alternative cost governors (SCALE.md 'llm_classify' note):

    - ``max_rows`` + ``order_cols`` — the reference's EXACT positional
      semantics (etl.py:355-364): the input is pinned, one top-N probe
      of the order key finds the key of row N, and a ``<= boundary``
      filter and its complement split the first N rows from the
      remainder — one driver-merged job, no shuffle, both halves in
      input order (:func:`~ctgov_ai_etl_spark.operators.limits.deterministic_split`;
      a tie at the boundary falls back to the distributed global rank).
    - ``per_bucket_cap`` + ``bucket_key`` + ``order_cols`` — the
      extreme-scale form: rows are md5-bucketed by ``bucket_key`` into
      ``n_buckets`` deterministic buckets, each bucket classifies only
      its first ``per_bucket_cap`` rows under ``order_cols`` and passes
      the rest through with 'N/A'.  Total spend ≤ cap × n_buckets with
      NO global rank — one hash shuffle plus a within-partition sort,
      and the classified set is a pure function of (key, order), so
      any engine can replay it (row_number per bucket in SQL).
    """
    from ctgov_ai_etl_spark.session import ship_package

    ship_package(df.sparkSession)

    in_cols = df.columns
    # The row dicts hold only the columns the prompt reads (plus the
    # bucket the per-bucket quota reads), not every column of the row.
    fields = template_fields(prompt_template)
    row_cols = [c for c in in_cols if fields is None or c in fields]
    if per_bucket_cap is not None:
        row_cols.append("__bucket")
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"`{out_col}` string"]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        client = client_factory()  # once per task, not per row (R10)
        limiter = TokenBucket(rate_per_sec) if rate_per_sec else None
        spent: dict[int, int] = {}  # per_bucket_cap: bucket -> rows seen
        for pdf in batches:
            labels = []
            rows = pdf[row_cols].to_dict("records") if row_cols else [{}] * len(pdf)
            for row in rows:
                if per_bucket_cap is not None:
                    b = row["__bucket"]
                    spent[b] = spent.get(b, 0) + 1
                    if spent[b] > per_bucket_cap:
                        labels.append(NA)  # quota exhausted: pass-through
                        continue
                labels.append(label_row(client, limiter, prompt_template, row))
            if per_bucket_cap is not None:
                pdf = pdf.drop(columns=["__bucket"])
            pdf[out_col] = pd.Series(labels, index=pdf.index, dtype="object")
            yield pdf

    head, rest = df, None
    if only_ids is not None:
        id_col, ids = only_ids
        from ctgov_ai_etl_spark.operators.limits import id_set_split

        head, rest = id_set_split(head, id_col, ids)
    if per_bucket_cap is not None:
        if max_rows is not None:
            raise ValueError(
                "per_bucket_cap and max_rows are alternative cost governors; pick one"
            )
        if bucket_key is None or order_cols is None:
            raise ValueError(
                "per_bucket_cap needs bucket_key and order_cols for "
                "deterministic, engine-replayable semantics"
            )
        from ctgov_ai_etl_spark.operators.limits import hash_bucket

        head = (
            head.withColumn("__bucket", hash_bucket(F.col(bucket_key), n_buckets))
            .repartition(F.col("__bucket"))
            .sortWithinPartitions("__bucket", *order_cols)
        )
    elif max_rows is not None:
        if order_cols is None:
            raise ValueError("max_rows needs order_cols for deterministic semantics")
        head, rest2 = deterministic_split(head, max_rows, order_cols)
        rest = rest2 if rest is None else rest.unionByName(rest2)

    classified = head.mapInPandas(run, schema=out_schema)
    # null → 'N/A' fill for processed rows (R14, etl.py:400-406)
    classified = classified.withColumn(out_col, F.coalesce(F.col(out_col), F.lit(NA)))
    if rest is not None:
        # remainder passes through with the sentinel (R15, etl.py:409-414)
        rest = rest.select(*in_cols).withColumn(out_col, F.lit(NA))
        classified = classified.unionByName(rest)
    return classified
