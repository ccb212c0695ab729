"""Dump `.explain("formatted")` for registry queries to files.

Captures the physical plan optimization claims are checked against
(plans/<PLAN_ROUND, default r12>/<q>_{before,after}.txt). Plan-only —
nothing executes except queries whose builders fit models / write
indexes at construction time (same caveat as tools/gen_plan_census.py).

Usage::

    python tools/dump_plan.py <suffix> <query> [query ...]
    # writes plans/<PLAN_ROUND>/<query>_<suffix>.txt for each

Environment:

- PLAN_SF_DIR: corpus directory, default /root/testdata/sf0.1 (the
  bench SF, so plan shapes match what the bench times).
- PLAN_ROUND: output subdirectory of plans/, default r12.
"""

from __future__ import annotations

import os
import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("PLAN_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = REPO / "plans" / os.environ.get("PLAN_ROUND", "r12")


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    suffix, names = sys.argv[1], sys.argv[2:]
    from ecommerce_analytics_spark.plans.registry import query_map
    from ecommerce_analytics_spark.session import get_spark

    spark = get_spark("dump_plan")
    spark.sparkContext.setLogLevel("ERROR")
    qm = query_map()
    OUT_DIR.mkdir(parents=True, exist_ok=True)
    import contextlib
    import io

    for name in names:
        df = qm[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        out = OUT_DIR / f"{name}_{suffix}.txt"
        out.write_text(plan)
        print(f"wrote {out} ({plan.count('Exchange')} Exchange mentions)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
