"""Synthetic star-schema corpus for the benchmark.

Writes the ten driver tables (``schemas.DRIVER_TABLES``) as one parquet
file each, with the column names, types and value distributions of the
repository's reference corpus (FIXTURES.md §A): TPC-H-ish dims and
facts with uniform keys, an events table sorted by time with
``{"k": n}`` JSON props, documents over a 30-word vocabulary with 5%
near-duplicates (another document's text plus `` dup``), and 64-dim
unit-norm float32 embeddings.

Only numpy and pyarrow are used, so generation needs no Spark session
and is not part of any timed window. The same ``(sf, seed)`` always
gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_DAY = 86_400 * 1_000_000
NAMES_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NAMES_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
              "widget")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)


def _day_us(iso: str) -> int:
    return int(np.datetime64(iso, "us").astype(np.int64))


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int,
          p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), size=n, p=p)], pa.string())


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int):
    """Uniform money values with two decimals (k/100 is the double
    nearest the decimal, as a writer rounding to cents produces)."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _dates(rng: np.random.Generator, first: str, last: str, n: int):
    d0, d1 = _day_us(first) // US_PER_DAY, _day_us(last) // US_PER_DAY
    return pa.array(rng.integers(d0, d1 + 1, n) * US_PER_DAY,
                    pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = (max(10, int(x * sf))
                              for x in (150_000, 10_000, 200_000))
    n_ord, n_li, n_ev = (int(x * sf) for x in (1_500_000, 6_000_000,
                                               1_000_000))
    n_doc, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    adj = rng.integers(0, len(NAMES_ADJ), n_part)
    noun = rng.integers(0, len(NAMES_NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{NAMES_ADJ[a]} {NAMES_NOUN[b]}"
                            for a, b in zip(adj, noun)], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)], pa.string()),
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": (9000 + np.arange(n_part) % 1000) / 10.0})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _cents(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105_000.0, n_li),
        "l_discount": np.round(rng.uniform(0, 10, n_li)) / 100.0,
        "l_tax": np.round(rng.uniform(0, 8, n_li)) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(rng, ("F", "O"), n_li),
        "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", n_li)})

    # distinct, time-ordered event instants over 30 days
    t0 = _day_us("2024-01-01")
    ts = np.unique(rng.integers(t0, t0 + 30 * US_PER_DAY, n_ev + n_ev // 8))
    ts = np.sort(rng.choice(ts, size=n_ev, replace=False))
    n_users = max(10, int(n_ev * 0.015))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(5000.0, n_ev)) / 100.0,
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_ev)], pa.string())})

    lens = rng.integers(10, 100, n_doc)
    words = np.asarray(WORDS, dtype=object)
    text = [" ".join(words[rng.integers(0, len(WORDS), n)]) for n in lens]
    # a near-duplicate copies the current text of any document, which may
    # itself be a near-duplicate already
    dups = rng.choice(n_doc, size=n_doc // 20, replace=False)
    for i, j in zip(dups, rng.integers(0, n_doc, len(dups))):
        text[i] = text[j] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64())})

    vec = rng.standard_normal((n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(
        np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, (n_vec + 1) * 64, 64), pa.int32()),
            pa.array(vec.ravel(), pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})
    return out


def write_corpus(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table into ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
        counts[name] = table.num_rows
    return counts
