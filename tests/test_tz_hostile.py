"""Always-on pytest gate for the OS-timezone hostility wave
(``tools/certify.py tz``, TZWAVE_r11.json): the DST-transition fixture runs
in a fresh process with ``TZ=America/New_York`` exported — JVM,
Python, and DuckDB all inherit the hostile zone — and every observed
hour bucket, window boundary, date_format, and unix round-trip must
equal the hardcoded UTC ground truth. Proves the session's UTC pin
(session.py get_spark/tune) actually severs OS-timezone dependence,
including across the 2024-03-10 US spring-forward where the local
hour 02:xx does not exist."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_dst_fixture_under_hostile_os_tz():
    from tools.certify import run_dst_fixture
    rec, failures = run_dst_fixture()
    assert not failures, failures
    assert rec["os_tz"] == "America/New_York"


def test_python_source_sink_roundtrip_under_hostile_os_tz(spark, sf_dir):
    """The two OS-tz leaks round 11 actually found lived in the PYTHON
    data-source boundary: naive datetimes entering Spark through the
    sim stream reader (time.mktime = OS-local) and leaving through the
    docstore sink (fromtimestamp = OS-local). Run the full
    replay→session_window→docstore topology in a TZ-hostile subprocess
    and require the value hash to equal this suite's UTC-host run —
    the sharpest regression gate for both fixes."""
    from ecommerce_analytics_spark.plans.registry import query_map
    from ecommerce_analytics_spark.testing import value_hash

    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from ecommerce_analytics_spark.session import get_spark\n"
        "from ecommerce_analytics_spark.plans.registry import query_map\n"
        "from ecommerce_analytics_spark.testing import value_hash\n"
        "import json\n"
        "spark = get_spark('tz_roundtrip', cpus=4)\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "pdf = query_map()['stream_sessionize_e2e'](spark, %r).toPandas()\n"
        "print('VH ' + value_hash(pdf))\n"
        "spark.stop()\n" % (REPO, sf_dir))
    env = dict(os.environ)
    env["TZ"] = "America/New_York"
    proc = subprocess.run([sys.executable, "-c", code], env=env,
                          cwd="/tmp", capture_output=True, text=True,
                          timeout=600)
    got = None
    for line in (proc.stdout or "").splitlines():
        if line.startswith("VH "):
            got = line[3:].strip()
    assert got, f"hostile-TZ subprocess failed: {(proc.stderr or '')[-600:]}"
    want = value_hash(
        query_map()["stream_sessionize_e2e"](spark, sf_dir).toPandas())
    assert got == want, "session round-trip drifted under hostile OS TZ"


# Driver-budget tiering (see pytest.ini): this file is in the heavy
# tier — excluded from the default `pytest tests/` run, executed by
# the full gate (tools/run_tests_parallel.py / `-o addopts=`).
import pytest as _pytest_mod

pytestmark = _pytest_mod.mark.heavy
