"""Reference-parity CSV sink (R17/R18; /root/reference/etl.py:432-469).

Reproduces the reference's observable output contract:

- fixed 13-column order (etl.py:449-454);
- the two **phantom columns** ``minimum_age`` / ``maximum_age`` that
  the header declares but no transform produces — emitted as empty
  strings (etl.py:450-451 vs 217-229; csv.DictWriter missing-key
  behavior, verified in SURVEY.md §1.3);
- the dynamic AI column appended iff present (etl.py:456-460);
- empty input → no file, just like the reference's early return
  (etl.py:440-442);
- UTF-8 with header row.

The output is always one file, written in parallel and spliced in
order: the plan runs with its own partitioning into a private directory
of part files, and the driver concatenates the parts in partition-id
order into the one file, keeping the first header.  That is the order
in which ``coalesce(1)`` would have concatenated the partitions, so the
file is byte-identical to a one-task write, without folding REST
paging, ``llm_classify`` and the write into a single task.  Whether any
row was written is read off the parts, so no probe job re-runs the
plan.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ctgov_ai_etl_spark.schemas import CSV_SINK_COLUMNS

# part-<partition id>-<job uuid>-c<file counter>.csv; the id widens past
# five digits, so parts sort by the parsed integers, not by name.
_PART_NAME = re.compile(r"part-(\d+)-.*-c(\d+)\.csv$")


def reference_csv_projection(df: DataFrame, ai_column: str | None = None) -> DataFrame:
    """Apply the sink's fixed projection: all 13 reference columns in
    order (missing ones padded as empty string — the DictWriter
    missing-key quirk), plus the AI column iff present."""
    cols = []
    for name in CSV_SINK_COLUMNS:
        if name in df.columns:
            cols.append(F.coalesce(F.col(name).cast("string"), F.lit("")).alias(name))
        else:
            cols.append(F.lit("").alias(name))  # phantom padding (R18)
    if ai_column and ai_column in df.columns:
        cols.append(F.coalesce(F.col(ai_column).cast("string"), F.lit("")).alias(ai_column))
    return df.select(*cols)


def _part_order(part: str) -> tuple[int, int]:
    m = _PART_NAME.search(os.path.basename(part))
    return int(m.group(1)), int(m.group(2))


def _splice_parts(parts_dir: str, staged: str) -> bool:
    """Concatenate the ``part-*.csv`` files of ``parts_dir`` into
    ``staged`` in partition order under one header line.  Parts holding
    only a header (empty partitions) are skipped.  Returns False when
    no part holds a data row."""
    parts = sorted(glob.glob(os.path.join(parts_dir, "part-*.csv")), key=_part_order)
    wrote = False
    with open(staged, "wb") as out:
        for part in parts:
            with open(part, "rb") as src:
                header = src.readline()
                if os.fstat(src.fileno()).st_size == len(header):
                    continue
                if not wrote:
                    out.write(header)
                    wrote = True
                shutil.copyfileobj(src, out)
    return wrote


def write_reference_csv(
    df: DataFrame,
    path: str,
    ai_column: str | None = "ai_determined_value",
) -> bool:
    """Write the reference-shaped CSV to the one file ``path``.  Returns
    False (no write) on empty input, mirroring etl.py:440-442.  A write
    that raises or finds no rows leaves ``path`` as it was."""
    out = reference_csv_projection(df, ai_column)
    tmp = tempfile.mkdtemp(prefix="ctgov_csv_")
    try:
        parts_dir = os.path.join(tmp, "parts")
        staged = os.path.join(tmp, "staged.csv")
        out.write.mode("overwrite").option("header", True).csv(parts_dir)
        if not _splice_parts(parts_dir, staged):
            return False
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        shutil.move(staged, path)
        return True
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
