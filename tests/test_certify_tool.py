"""tools/certify.py units: the drift rule, baseline validation and the
wave driver, on synthetic sweep records.

No Spark: ``certify.sweep`` and the registry fingerprints are replaced
by stubs, so these check the bookkeeping, not a perturbation. The
waves themselves run end to end with
``python tools/certify.py <wave> <sf_dir> <baseline.json> <out.json>``.
"""

from __future__ import annotations

import importlib.util
import json
import pathlib

import pytest

REPO = pathlib.Path(__file__).resolve().parents[1]
SF = "/data/sf0.001"


def _certify_mod():
    spec = importlib.util.spec_from_file_location(
        "certify_tool", REPO / "tools" / "certify.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _rec(q, vh="h", ok=True, sf=SF, fp="fp"):
    r = {"q": q, "sf": sf, "fp": fp, "ok": ok}
    if vh is not None:
        r["vh"] = vh
    return r


def _by_name(*recs):
    return {r["q"]: r for r in recs}


def _baseline(tmp_path, *recs):
    path = tmp_path / "baseline.json"
    path.write_text(json.dumps({"summary": {}, "records": list(recs)}))
    return str(path)


def test_drift_on_an_equal_named_query():
    ct = _certify_mod()
    chk = ct.drift_check(_by_name(_rec("a", "1"), _rec("b", "2")),
                         _by_name(_rec("a", "1"), _rec("b", "3")))
    assert chk["drift"] == ["b"]
    assert chk["missing"] == [] and chk["oracle_failures"] == []
    assert ct.leg_failures({"leg": chk}) == ["leg drift: ['b']"]


def test_query_missing_from_the_perturbed_run():
    ct = _certify_mod()
    chk = ct.drift_check(_by_name(_rec("a"), _rec("b")),
                         _by_name(_rec("a")))
    assert chk["missing"] == ["b"] and chk["drift"] == []
    assert ct.leg_failures({"leg": chk})


def test_missing_vh_in_the_perturbed_run_is_drift():
    ct = _certify_mod()
    chk = ct.drift_check(_by_name(_rec("a")), _by_name(_rec("a", vh=None)))
    assert chk["drift"] == ["a"]


def test_ok_false_record_fails():
    ct = _certify_mod()
    ref = _by_name(_rec("a"))
    chk = ct.drift_check(ref, _by_name(_rec("a", ok=False)))
    assert chk["oracle_failures"] == ["a"]
    assert ct.leg_failures({"leg": chk}) == ["leg oracle failures: ['a']"]
    # the reference counts as a leg too
    bad_ref = _by_name(_rec("a", vh=None, ok=False))
    assert ct.leg_failures({"baseline": ct.drift_check(bad_ref, bad_ref)})


def test_baseline_at_another_sf_exits_2(tmp_path, monkeypatch):
    ct = _certify_mod()
    monkeypatch.setattr(ct, "registry_fingerprints", lambda: {"a": "fp"})
    base = _baseline(tmp_path, _rec("a", sf="/data/sf0.01"))
    with pytest.raises(SystemExit) as exc:
        ct.main(["roworder", SF, base, str(tmp_path / "out.json")])
    assert exc.value.code == 2
    assert not (tmp_path / "out.json").exists()


def test_baseline_with_a_stale_fp_exits_2(tmp_path, monkeypatch, capsys):
    ct = _certify_mod()
    monkeypatch.setattr(ct, "registry_fingerprints",
                        lambda: {"a": "fp", "b": "NEW"})
    base = _baseline(tmp_path, _rec("a"), _rec("b", fp="OLD"))
    with pytest.raises(SystemExit) as exc:
        ct.main(["tz", SF, base, str(tmp_path / "out.json")])
    assert exc.value.code == 2
    err = capsys.readouterr().err
    assert "['b']" in err
    assert f"SWEEP_JSON_OUT={base} python tools/sweep.py --changed {SF}" \
        in err


def test_wave_runs_its_legs_and_stamps_the_artifact(tmp_path, monkeypatch):
    ct = _certify_mod()
    monkeypatch.setattr(ct, "registry_fingerprints",
                        lambda: {"a": "fp", "b": "fp"})
    base = _baseline(tmp_path, _rec("a", "1"), _rec("b", "2"))
    seen = []

    def fake_sweep(sf_dir, overrides, names=()):
        seen.append(overrides["SPARK_GRAFT_EXTRA_CONF"])
        vh_b = "X" if "codegen" in overrides["SPARK_GRAFT_EXTRA_CONF"] \
            else "2"
        return _by_name(_rec("a", "1"), _rec("b", vh_b))

    monkeypatch.setattr(ct, "sweep", fake_sweep)
    out = tmp_path / "out.json"
    assert ct.main(["shufflepart", SF, base, str(out)]) == 1
    assert seen == list(ct.AXES.values())
    doc = json.loads(out.read_text())
    assert doc["legs"]["codegen_off"]["drift"] == ["b"]
    assert doc["legs"]["shuffle_7"]["drift"] == []
    assert doc["legs"]["baseline"]["n_queries"] == 2
    assert doc["failures"] == ["codegen_off drift: ['b']"]
    for key in ("commit", "nproc", "loadavg_start", "loadavg_end",
                "baseline", "sf_dir", "wall_s"):
        assert key in doc
    assert doc["baseline"] == base and doc["sf_dir"] == SF


def test_leg_reference_replaces_the_baseline(tmp_path, monkeypatch):
    """aqeskew compares its skew-on leg with its AQE-off leg, on the
    skewed fixture, and needs skew=true to fire somewhere."""
    ct = _certify_mod()
    monkeypatch.setattr(ct, "registry_fingerprints", lambda: {"a": "fp"})
    base = _baseline(tmp_path, _rec("a", "base-hash"))
    monkeypatch.setitem(ct.WAVES["aqeskew"], "fixture",
                        lambda sf, out: out)

    def fake_sweep(sf_dir, overrides, names=()):
        rec = _rec("a", "fixture-hash", sf=sf_dir)
        if overrides.get("SWEEP_PLAN_GREP"):
            rec["plan_hits"] = {"skew=true": 2}
        return {"a": rec}

    monkeypatch.setattr(ct, "sweep", fake_sweep)
    out = tmp_path / "out.json"
    assert ct.main(["aqeskew", SF, base, str(out)]) == 0
    doc = json.loads(out.read_text())
    assert doc["reference"] == "aqe_off" and "baseline" not in doc["legs"]
    assert doc["proof"]["skew_fired"] == ["a"]
