#!/usr/bin/env python3
"""Check a generated corpus against the profile of the reference corpus.

The benchmark generates its inputs (``datagen.py``) because a run may
read only inside its checkout. ``reference_profile.json`` records, for
each reference scale factor and table, what the reference parquet files
hold: the parquet schema (physical and logical types, so timestamp
units too), the row count, and per column the count, distinct count,
min, max, mean and standard deviation (strings and lists: of their
lengths; timestamps: in microseconds). Every corpus the benchmark
generates is compared with it before it is cached; a mismatch stops
the run.

    python3 perfbench/refcheck.py record REF_ROOT      # REF_ROOT/sf*/ -> profile
    python3 perfbench/refcheck.py compare CORPUS SF    # report, exit 1 on mismatch

A generated table matches when the schema and row count are equal, each
column's distinct count is within 5% (at least 2) of the reference's,
its mean within five standard errors and its min and max within two
standard deviations (the larger of the two samples'). Means and extremes
of a random sample differ from the reference's by chance; a wrong
distribution, range or unit does not stay within these limits.
"""

from __future__ import annotations

import json
import math
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
PROFILE = os.path.join(HERE, "reference_profile.json")


def _numeric(col: pa.ChunkedArray) -> pa.ChunkedArray:
    t = col.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return pc.utf8_length(col)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return pc.list_value_length(col)
    if pa.types.is_timestamp(t):
        return col.cast(pa.timestamp("us")).cast(pa.int64())
    return col.cast(pa.float64())


def profile_file(path: str) -> dict:
    f = pq.ParquetFile(path)
    schema = [f"{c.path}:{c.physical_type}:{c.logical_type}"
              for c in f.schema]
    table = f.read()
    cols = {}
    for name in table.column_names:
        col = table[name]
        num = _numeric(col)
        stats = {"count": len(col) - col.null_count}
        if not (pa.types.is_list(col.type)
                or pa.types.is_large_list(col.type)):
            stats["distinct"] = pc.count_distinct(col).as_py()
        if stats["count"]:
            mm = pc.min_max(num).as_py()
            stats.update(min=float(mm["min"]), max=float(mm["max"]),
                         mean=pc.mean(num).as_py(),
                         std=pc.stddev(num).as_py())
        cols[name] = stats
    return {"schema": schema, "rows": f.metadata.num_rows, "columns": cols}


def profile_dir(corpus: str) -> dict:
    return {name[:-len(".parquet")]: profile_file(os.path.join(corpus, name))
            for name in sorted(os.listdir(corpus))
            if name.endswith(".parquet")}


def compare(got: dict, ref: dict) -> list[str]:
    """Mismatches of a corpus profile against the reference's."""
    bad = []
    for table in sorted(set(got) | set(ref)):
        g, r = got.get(table), ref.get(table)
        if g is None or r is None:
            bad.append(f"{table}: {'missing' if g is None else 'extra'}")
            continue
        if g["schema"] != r["schema"]:
            bad.append(f"{table}: schema {g['schema']} != {r['schema']}")
            continue
        if g["rows"] != r["rows"]:
            bad.append(f"{table}: {g['rows']} rows != {r['rows']}")
        for name, rs in r["columns"].items():
            gs = g["columns"][name]
            where = f"{table}.{name}"
            if "distinct" in rs and abs(gs["distinct"] - rs["distinct"]) \
                    > max(2, 0.05 * rs["distinct"]):
                bad.append(f"{where}: {gs['distinct']} distinct != "
                           f"{rs['distinct']}")
            if not rs["count"]:
                continue
            std = max(gs["std"] or 0.0, rs["std"] or 0.0)
            if abs(gs["mean"] - rs["mean"]) > \
                    5 * std / math.sqrt(rs["count"]) + 1e-9 * abs(rs["mean"]):
                bad.append(f"{where}: mean {gs['mean']:.6g} != "
                           f"{rs['mean']:.6g}")
            for k in ("min", "max"):
                if abs(gs[k] - rs[k]) > 2 * std + 1e-9 * abs(rs[k]):
                    bad.append(f"{where}: {k} {gs[k]:.6g} != {rs[k]:.6g}")
    return bad


def reference(sf: float) -> dict | None:
    """The reference profile at ``sf``, or None if none was recorded."""
    with open(PROFILE) as f:
        return json.load(f).get(f"sf{sf:g}")


def main(argv: list[str]) -> int:
    if len(argv) == 2 and argv[0] == "record":
        root = argv[1]
        out = {d: profile_dir(os.path.join(root, d))
               for d in sorted(os.listdir(root)) if d.startswith("sf")}
        with open(PROFILE, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"recorded {sorted(out)} to {PROFILE}")
        return 0
    if len(argv) == 3 and argv[0] == "compare":
        ref = reference(float(argv[2]))
        if ref is None:
            print(f"no reference profile for sf{float(argv[2]):g}")
            return 1
        bad = compare(profile_dir(argv[1]), ref)
        print("\n".join(bad) if bad else f"{argv[1]}: matches the "
              f"reference profile ({len(ref)} tables)")
        return 1 if bad else 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
