"""Deliberately SKEWED (but value-clean) copy of an SF dir — round 9.

The round-7 tie-pairing defect class was diagnosed as "skew-activated
AQE paths changing row pairing", yet no gate had ever made
``OptimizeSkewedJoin`` actually fire: the driver tables are uniform,
so AQE's skew splitter never triggers on them at any conf. This
fixture manufactures the trigger — hot keys big enough that, with the
skew thresholds lowered (``tools/certify.py aqeskew``), Spark really
splits the skewed partitions and replays the other side per split.

Unlike tests/hostile_retail_fixture.py this copy is VALUE-CLEAN: no
NULLs, no negatives, no conflicting duplicates — the only hostility is
the key distribution, so any Spark-vs-oracle divergence is isolated to
the skew-handling execution path, not value semantics.

Hot keys (all values deterministic and distinct where windows order):

* orders: +30k orders for existing customer 42 — skews every
  orders⋈customer / per-customer window on o_custkey.
* lineitem: +30k lines on ONE new order (91,000,000, itself added to
  orders so nothing is orphaned), spread over 50 distinct parts so
  basket-pair plans stay bounded — skews every lineitem⋈orders join
  on l_orderkey.
* events: +20k events for existing user 7 with strictly increasing
  timestamps — skews per-user windows and event⋈order attributions.

Both engines read the SAME parquet, so no oracle changes are needed;
documents/embeddings are symlinked unchanged (content-bucketed
candidate joins have no single-hot-key analog for the AQE splitter).
"""

from __future__ import annotations

import os

MEGA_CUSTKEY = 42
N_MEGA_CUST_ORDERS = 30_000
HOT_ORDERKEY = 91_000_000
N_HOT_ORDER_LINES = 30_000
N_HOT_PARTS = 50
HOT_USERID = 7
N_HOT_EVENTS = 20_000

_SKEW_ORDERS = """
SELECT * FROM base
UNION ALL
-- dates inside the classic TPC-H filter windows (o_orderdate before
-- 1995-03-15, l_shipdate after it) so date-filtered join queries
-- (shipping_priority etc.) actually SEE the hot keys
SELECT 90000000 + i AS o_orderkey,
       {mega} AS o_custkey,
       'O' AS o_orderstatus,
       100.0 + i AS o_totalprice,
       TIMESTAMP '1995-02-01 00:00:00' + to_minutes(CAST(i AS BIGINT))
         AS o_orderdate,
       '1-URGENT' AS o_orderpriority
FROM range({n_mega}) t(i)
UNION ALL
SELECT {hot_ok} AS o_orderkey, 43 AS o_custkey, 'F' AS o_orderstatus,
       50000.0 AS o_totalprice,
       TIMESTAMP '1995-02-10 00:00:00' AS o_orderdate,
       '2-HIGH' AS o_orderpriority
""".format(mega=MEGA_CUSTKEY, n_mega=N_MEGA_CUST_ORDERS,
           hot_ok=HOT_ORDERKEY)

_SKEW_LINEITEM = """
SELECT * FROM base
UNION ALL
SELECT {hot_ok} AS l_orderkey,
       CAST(i % {n_parts} AS BIGINT) AS l_partkey,
       CAST(i % 100 AS BIGINT) AS l_suppkey,
       CAST(i + 1 AS INTEGER) AS l_linenumber,
       1.0 + (i % 7) AS l_quantity,
       100.0 + i AS l_extendedprice,
       0.02 AS l_discount,
       0.01 AS l_tax,
       'N' AS l_returnflag,
       'O' AS l_linestatus,
       TIMESTAMP '1995-04-01 00:00:00' + to_minutes(CAST(i AS BIGINT))
         AS l_shipdate
FROM range({n_lines}) t(i)
""".format(hot_ok=HOT_ORDERKEY, n_parts=N_HOT_PARTS,
           n_lines=N_HOT_ORDER_LINES)

_SKEW_EVENTS = """
SELECT * FROM base
UNION ALL
SELECT 95000000 + i AS event_id,
       TIMESTAMP '2024-01-05 00:00:00' + to_seconds(CAST(i AS BIGINT))
         AS ts,
       {hot_user} AS user_id,
       CASE i % 5 WHEN 0 THEN 'view' WHEN 1 THEN 'click'
                  WHEN 2 THEN 'purchase' WHEN 3 THEN 'signup'
                  ELSE 'error' END AS event_type,
       1.0 + (i % 400) * 0.25 AS value,
       '{{"k": ' || (i % 100) || '}}' AS props
FROM range({n_events}) t(i)
""".format(hot_user=HOT_USERID, n_events=N_HOT_EVENTS)

_SKEWS = {
    "orders": _SKEW_ORDERS,
    "lineitem": _SKEW_LINEITEM,
    "events": _SKEW_EVENTS,
}


def build_skewed(sf_dir: str, out_dir: str) -> str:
    """Materialize the skewed fixture under out_dir; untouched tables
    are symlinked. Returns out_dir. Idempotent per out_dir."""
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    for name in os.listdir(sf_dir):
        if (name.endswith(".parquet")
                and name.removesuffix(".parquet") not in set(_SKEWS)):
            dst = os.path.join(out_dir, name)
            if not os.path.exists(dst):
                os.symlink(os.path.join(sf_dir, name), dst)
    for table, sql in _SKEWS.items():
        src = f"{sf_dir}/{table}.parquet"
        body = sql.replace("FROM base", f"FROM '{src}'")
        duckdb.sql(f"COPY ({body}) TO '{out_dir}/{table}.parquet' "
                   f"(FORMAT PARQUET)")
    return out_dir
