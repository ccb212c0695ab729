"""Full-registry driver-gate simulation.

Runs every ``queries()`` entry in ``__spark_entry__.py`` against its
``oracle_sql()`` twin at a chosen scale factor and prints one JSON
object per query: rows / schema / value-multiset match, exactly the
comparison the round driver records in ``CORRECTNESS_r{N}.json``
(including the pandas ``sort_values`` canonicalization that crashes on
list-typed columns — see ``testing.driver_canon``).

Usage::

    python tools/sweep.py [sf_dir] [name-substring ...]
    python tools/sweep.py --changed [sf_dir]

Defaults to ``/root/testdata/sf0.01``. Exit code 1 on any mismatch.

Set ``SWEEP_JSON_OUT=/path/to/SWEEP_rN.json`` to also write the full
per-query record list as one JSON document (VERDICT r3 #3: the
committed artifact lets the judge diff the self-run sweep against the
driver's CORRECTNESS_rN row-for-row).

Two-tier workflow (VERDICT r5 #4):

* **mid-round** — ``--changed`` sweeps only queries whose implementing
  module source or oracle SQL differs from the fingerprint stored in
  the committed artifact (``SWEEP_JSON_OUT``, which must exist), then
  merges the fresh records back in. Merged artifacts are stamped
  ``"merged": true`` and carry no ``total_sec`` (records were timed in
  different epochs — ADVICE r5), so a partial sweep can never be
  mistaken for a fresh full-sweep timing.
* **round end** — a full fresh run (no flags, ``SWEEP_JSON_MERGE``
  unset) remains the gate; it rewrites the artifact with uniform
  timings and fresh fingerprints.
"""

from __future__ import annotations

import hashlib
import importlib
import importlib.util
import json
import os
import pathlib
import sys
import time

REPO = str(pathlib.Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)

from ecommerce_analytics_spark.session import get_spark  # noqa: E402
from ecommerce_analytics_spark.testing import (  # noqa: E402
    compare_frames, duckdb_oracle)


def load_entry():
    spec = importlib.util.spec_from_file_location(
        "spark_entry", f"{REPO}/__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_SRC_CACHE: dict[str, bytes] = {}


def _module_src(modname: str) -> bytes:
    if modname not in _SRC_CACHE:
        try:
            f = importlib.import_module(modname).__file__
            _SRC_CACHE[modname] = pathlib.Path(f).read_bytes()
        except Exception:
            _SRC_CACHE[modname] = b""
    return _SRC_CACHE[modname]


_PKG = "ecommerce_analytics_spark"
_IMPORT_RE = None
_CLOSURE_CACHE: dict[str, tuple[str, ...]] = {}


def _intra_imports(modname: str) -> list[str]:
    """Package modules imported by ``modname``'s source (textual scan
    of import statements — enough for this package's flat style)."""
    global _IMPORT_RE
    if _IMPORT_RE is None:
        import re
        _IMPORT_RE = re.compile(
            rf"^\s*(?:from\s+({_PKG}(?:\.\w+)*)\s+import"
            rf"|import\s+({_PKG}(?:\.\w+)*))", re.M)
    src = _module_src(modname).decode(errors="replace")
    return [a or b for a, b in _IMPORT_RE.findall(src)]


def _module_closure(modname: str) -> tuple[str, ...]:
    """Transitive intra-package import closure of ``modname``."""
    if modname not in _CLOSURE_CACHE:
        seen: set[str] = set()
        stack = [modname]
        while stack:
            m = stack.pop()
            if m in seen:
                continue
            seen.add(m)
            stack.extend(_intra_imports(m))
        _CLOSURE_CACHE[modname] = tuple(sorted(seen))
    return _CLOSURE_CACHE[modname]


def fingerprint(fn, sql: str | None) -> str:
    """md5 of (oracle SQL, every package module the implementing
    module transitively imports) — the change signal for --changed.
    The closure matters: knn_ivfpq lives in ivfpq.py but its codebook
    trainer lives in pq.py; hashing only the defining module would
    leave a pq.py edit invisible to --changed (hit in practice round
    6). Testing-infra / registry-plumbing edits still don't bump it;
    the round-end full fresh sweep covers those."""
    h = hashlib.md5()
    h.update((sql or "").encode())
    for m in _module_closure(getattr(fn, "__module__", "") or ""):
        h.update(b"\x00" + m.encode() + b"\x00")
        h.update(_module_src(m))
    return h.hexdigest()


def registry_fingerprints() -> dict[str, str]:
    """Per-query fingerprints from the REGISTRY's raw callables. The
    entry module's wrappers all carry the entry's own __module__, which
    would collapse every query's module component to one file — the
    registry's spark_fn keeps the true defining module."""
    from ecommerce_analytics_spark.plans.registry import all_queries
    return {name: fingerprint(q.spark_fn, q.oracle)
            for name, q in all_queries().items()}


def select_changed(fps: dict, prior_records: list[dict]) -> list[str]:
    """Names to re-sweep: new queries, queries whose fingerprint
    drifted, and artifact rows missing a fingerprint entirely (the
    pre-fp artifact format) — anything the committed artifact cannot
    vouch for at the current source."""
    prior_fp = {r["q"]: r.get("fp") for r in prior_records}
    return [name for name, fp in fps.items()
            if prior_fp.get(name) != fp]


def main() -> int:
    argv = [a for a in sys.argv[1:]]
    changed_only = "--changed" in argv
    if changed_only:
        argv.remove("--changed")
    # --exact: name filters match whole query names, not substrings —
    # "sessionize" must not drag sessionize_native/stream_sessionize_e2e
    # into a scaled-SF run where each extra query costs minutes.
    exact = "--exact" in argv
    if exact:
        argv.remove("--exact")
    sf_dir = argv[0] if argv else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    only = argv[1:]
    entry = load_entry()
    queries = entry.queries()
    oracles = entry.oracle_sql()
    out = os.environ.get("SWEEP_JSON_OUT")
    merge = bool(os.environ.get("SWEEP_JSON_MERGE"))

    fps = registry_fingerprints()
    assert set(fps) == set(queries), "entry/registry drift"

    if changed_only:
        if not (out and os.path.exists(out)):
            print("--changed needs SWEEP_JSON_OUT pointing at the "
                  "committed artifact", file=sys.stderr)
            return 2
        with open(out) as f:
            only = select_changed(fps, json.load(f)["records"])
        merge = True
        print(json.dumps({"changed_mode": True,
                          "to_run": sorted(only)}), flush=True)
        if not only:
            print(json.dumps({"n_queries": 0, "failures": 0}))
            return 0

    spark = get_spark()
    # Per-query certified float tolerance: vh must be recorded at the
    # same significance the oracle compare uses, or layout/plan waves
    # gate sig-digit queries bitwise (ADVICE r8).
    from ecommerce_analytics_spark.plans.registry import all_queries
    sig_by_name = {n: q.float_sig for n, q in all_queries().items()}
    failures = 0
    records: list[dict] = []
    t_all = time.time()
    for name, fn in queries.items():
        if only and not any(
                (name == s if (changed_only or exact) else s in name)
                for s in only):
            continue
        t0 = time.time()
        rec: dict = {"q": name, "sf": sf_dir, "fp": fps[name]}
        try:
            sdf = fn(spark, sf_dir)
            spark_pdf = sdf.toPandas()
            rec["spark_rows"] = len(spark_pdf)
            from ecommerce_analytics_spark.testing import value_hash
            rec["vh"] = value_hash(spark_pdf,
                                   float_sig=sig_by_name.get(name))
            # Wave hook: SWEEP_PLAN_GREP=pat1,pat2 records how often
            # each pattern appears in the POST-EXECUTION formatted plan
            # (so AQE-final markers like "skew=true" are visible) —
            # lets ``tools/certify.py aqeskew`` prove the path under
            # test actually fired, not just that confs were set.
            if os.environ.get("SWEEP_PLAN_GREP"):
                try:
                    plan = spark._sc._jvm.PythonSQLUtils.explainString(
                        sdf._jdf.queryExecution(), "formatted")
                    rec["plan_hits"] = {
                        p: plan.count(p)
                        for p in os.environ["SWEEP_PLAN_GREP"].split(",")}
                except Exception as exc:  # noqa: BLE001
                    rec["plan_hits"] = {"err": str(exc)[:120]}
            sql = oracles.get(name)
            if sql is None:
                rec["mode"] = "rows-only"
                # The driver still canonicalizes rows-only results.
                from ecommerce_analytics_spark.testing import driver_canon
                driver_canon(spark_pdf)
                rec["ok"] = True
            else:
                oracle_pdf = duckdb_oracle(sql, sf_dir)
                rec["oracle_rows"] = len(oracle_pdf)
                problems = compare_frames(spark_pdf, oracle_pdf, name)
                rec["ok"] = not problems
                if problems:
                    rec["problems"] = problems
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            rec["ok"] = False
            rec["err"] = f"{type(exc).__name__}: {exc}"[:500]
        rec["sec"] = round(time.time() - t0, 2)
        if not rec["ok"]:
            failures += 1
        records.append(rec)
        print(json.dumps(rec), flush=True)
    summary = {"total_sec": round(time.time() - t_all, 1),
               "n_queries": len(records), "failures": failures}
    print(json.dumps(summary), flush=True)
    if out:
        doc = {"summary": summary, "records": records}
        if merge and os.path.exists(out):
            # Partial-sweep merge: replace/append the just-run records
            # in the committed artifact, keep every other row, and
            # re-derive the summary — so mid-round additions keep the
            # artifact registry-synced (test_docs_sync) without paying
            # a full re-sweep per commit. Round end still does a full
            # fresh sweep. Merged summaries are STAMPED and carry no
            # total_sec: the constituent records were timed under
            # different conditions (ADVICE r5).
            with open(out) as f:
                prior = json.load(f)
            ran = {r["q"] for r in records}
            live = set(queries)
            merged = [r for r in prior["records"]
                      if r["q"] not in ran and r["q"] in live]
            merged.extend(records)
            merged.sort(key=lambda r: r["q"])
            doc = {"summary": {
                "merged": True,
                "n_queries": len(merged),
                "failures": sum(not r["ok"] for r in merged),
            }, "records": merged}
        with open(out, "w") as f:
            json.dump(doc, f, indent=1)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
