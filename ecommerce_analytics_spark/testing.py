"""Differential-testing harness: Spark result vs DuckDB oracle.

Replicates the driver's correctness gate locally (SURVEY.md §5.2):
run the PySpark query and its ANSI-SQL oracle on the same parquet,
compare row count, column names, and an order-insensitive value
multiset.

Driver parity (round-2 hardening — VERDICT.md r1 §wrong #3):

* Floats compare EXACTLY by default. The driver hashes raw values, so
  any plan that wants engine-independence must make its arithmetic
  deterministic (decimal sums, rounding in BOTH plan and oracle) —
  a sig-digit tolerance here would mask exactly the cent-boundary bug
  that failed ``sales_by_region_year`` in round 1. Queries with
  genuinely unrounded float outputs can opt into ``float_sig=N``.
* Before comparing, both frames go through ``driver_canon`` — the same
  pandas ``sort_values`` canonicalization the driver applies. That
  call raises ``TypeError: unhashable type: 'list'`` on array-typed
  columns, so a query that would crash the driver's harness crashes
  HERE first (round 1's ``recommendations_nested`` ERR).
"""

from __future__ import annotations

import math
import os
from collections import Counter

import duckdb
import pandas as pd

from ecommerce_analytics_spark.schemas import DRIVER_TABLES


def duckdb_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        # Spill discipline for big-SF sweeps (VERDICT r8 #3): an oracle
        # that spills defaults to the cwd; point it at a scratch dir
        # with known headroom and optionally cap its memory so a
        # runaway plan aborts cleanly instead of filling the disk.
        tmp = os.environ.get("SPARK_GRAFT_DUCKDB_TMP")
        if tmp:
            os.makedirs(tmp, exist_ok=True)
            con.execute(f"SET temp_directory='{tmp}'")
        mem = os.environ.get("SPARK_GRAFT_DUCKDB_MEM")
        if mem:
            con.execute(f"SET memory_limit='{mem}'")
        for name in DRIVER_TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if os.path.isdir(path):
                # Spark-written table (tools/gen_scale.py output): a
                # DIRECTORY of part files — glob them for DuckDB
                path = os.path.join(path, "*.parquet")
            elif not os.path.exists(path):
                continue
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def driver_canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """The driver's canonicalization: columns sorted by name, rows sorted
    by every column. Intentionally NOT defensive — pandas ``sort_values``
    dies on unhashable cells (lists/arrays), and we want that crash to
    happen in the local suite, not in the driver run."""
    cols = sorted(pdf.columns)
    out = pdf[cols]
    if cols and len(out):
        out = out.sort_values(by=cols, kind="mergesort")
    return out.reset_index(drop=True)


def _norm_cell(v, float_sig: int | None):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            return 0.0  # collapse -0.0
        if float_sig is not None:
            return round(v, float_sig - 1 - int(math.floor(math.log10(abs(v)))))
        return float(v)  # exact (driver parity)
    if isinstance(v, bool):
        return bool(v)
    if hasattr(v, "isoformat"):  # datetime/date
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_norm_cell(x, float_sig) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_cell(x, float_sig)) for k, x in v.items()))
    if pd.isna(v):
        return None
    return v


def _normalize(df: pd.DataFrame,
               float_sig: int | None) -> tuple[list[str], Counter]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = Counter()
    for row in df.itertuples(index=False, name=None):
        rows[tuple(_norm_cell(v, float_sig) for v in row)] += 1
    return cols, rows


def value_hash(pdf: pd.DataFrame, float_sig: int | None = None) -> str:
    """Order-insensitive content hash of a result frame: md5 over the
    sorted (column names, normalized row multiset). Two runs of the
    same query agree on ``value_hash`` iff they agree under
    ``compare_frames`` — used by the input-layout invariance wave
    (``tools/certify.py roworder``) to diff results across physically
    permuted copies of the same tables, where the oracle alone can't
    see run-to-run nondeterminism (both engines reread the same dir)."""
    import hashlib

    cols, rows = _normalize(pdf, float_sig)
    h = hashlib.md5(repr(cols).encode())
    for item in sorted(rows.items(), key=repr):
        h.update(repr(item).encode())
    return h.hexdigest()


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame,
                   name: str = "", float_sig: int | None = None) -> list[str]:
    """Return a list of mismatch descriptions (empty = match).

    ``float_sig=None`` (default) compares floats exactly, like the
    driver's value hash. Pass a significant-digit count only for
    queries whose outputs are genuinely unrounded floats.
    """
    # Surface driver-canonicalizer crashes (list-typed columns) locally.
    driver_canon(spark_pdf)
    driver_canon(oracle_pdf)
    problems: list[str] = []
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(
            f"{name}: row count {len(spark_pdf)} (spark) != {len(oracle_pdf)} (oracle)")
    s_cols, s_rows = _normalize(spark_pdf, float_sig)
    o_cols, o_rows = _normalize(oracle_pdf, float_sig)
    if s_cols != o_cols:
        problems.append(f"{name}: columns {s_cols} != {o_cols}")
        return problems
    if s_rows != o_rows:
        only_spark = list((s_rows - o_rows).items())[:3]
        only_oracle = list((o_rows - s_rows).items())[:3]
        problems.append(
            f"{name}: value mismatch; spark-only sample={only_spark} "
            f"oracle-only sample={only_oracle}")
    return problems
