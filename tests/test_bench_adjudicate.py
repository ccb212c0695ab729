"""Gates for bench.py self-adjudication plumbing (ADVICE r10) and the
ann_index serve-path memo invalidation.

- ``_prior_round_sha`` must resolve the prior round's commit from
  TRACKED artifacts only: mid-round the current round's BENCH_r{N}.json
  sits untracked in the working tree, and ``git log -- <untracked>``
  returns an empty sha, which previously broke the worktree add in
  exactly the scenario adjudication exists for.
- Round artifacts must sort NUMERICALLY ('r10' < 'r6' lexically).
- ``ann_index._cells_rows`` must refresh its memo when the cells dir
  is overwritten in place (mtime change), not serve a stale count.
- ``io.row_count``, the memo behind it and ``io.bucketed_lineitem``,
  keys on the file identity and counts every time a path cannot be
  stat'ed.
"""
import os
import subprocess

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_round_num_orders_numerically():
    names = ["BENCH_HEAVY_r6.json", "BENCH_HEAVY_r10.json",
             "BENCH_HEAVY_r7.json"]
    assert sorted(names, key=bench._round_num)[-1] == "BENCH_HEAVY_r10.json"
    assert bench._round_num("BENCH_r01.json") == 1
    assert bench._round_num("nope.json") == -1


def test_prior_round_sha_ignores_untracked(tmp_path):
    # Drop a fake "current round" artifact with a huge round number in
    # the working tree; it is untracked, so it must NOT be chosen.
    decoy = os.path.join(REPO, "BENCH_r9998.json")
    assert not os.path.exists(decoy)
    with open(decoy, "w") as f:
        f.write("{}")
    try:
        sha = bench._prior_round_sha(REPO, "BENCH_r*.json")
        assert sha and len(sha) == 40
        # The sha must be the commit of the newest TRACKED artifact.
        tracked = subprocess.run(
            ["git", "ls-files", "BENCH_r*.json"], cwd=REPO,
            capture_output=True, text=True, check=True).stdout.split()
        newest = max(tracked, key=lambda p: bench._round_num(
            os.path.basename(p)))
        want = subprocess.run(
            ["git", "log", "-n1", "--format=%H", "--", newest],
            cwd=REPO, capture_output=True, text=True,
            check=True).stdout.strip()
        assert sha == want
    finally:
        os.remove(decoy)


def test_prior_round_sha_heavy_pattern_numeric():
    # Heavy series is unpadded (r6..r10): lexical max is r9 — numeric
    # resolution must still pick the true newest tracked heavy artifact.
    sha = bench._prior_round_sha(REPO, "BENCH_HEAVY_r*.json")
    tracked = subprocess.run(
        ["git", "ls-files", "BENCH_HEAVY_r*.json"], cwd=REPO,
        capture_output=True, text=True, check=True).stdout.split()
    if not tracked:
        assert sha is None
        return
    newest = max(tracked, key=lambda p: bench._round_num(
        os.path.basename(p)))
    want = subprocess.run(
        ["git", "log", "-n1", "--format=%H", "--", newest],
        cwd=REPO, capture_output=True, text=True,
        check=True).stdout.strip()
    assert sha == want


def test_adjudicate_interleaves_legs_min_of_legs(monkeypatch):
    """r12 hardening: legs must alternate HEAD/prior, per-leg timings
    must land in the artifact, and the verdict must compare
    min-of-legs — a single storm leg on one side (9.9s below) must not
    flip the verdict the way r11's single-leg adjudication did."""
    order: list[str] = []
    head_seq = iter([{"q": 2.0}, {"q": 9.9}, {"q": 2.1}])   # leg 2 = storm
    prior_seq = iter([{"q": 5.0}, {"q": 2.2}, {"q": 5.1}])

    def fake_timer(root, names, n_runs):
        assert names == ["q"]
        assert n_runs <= 3  # per-leg budget, not the full bench n_runs
        if root == REPO:
            order.append("H")
            return next(head_seq)
        order.append("P")
        return next(prior_seq)

    monkeypatch.setattr(bench, "_timer_subprocess", fake_timer)
    monkeypatch.setattr(bench, "_prior_round_sha",
                        lambda here, pattern: "f" * 40)
    real_isdir = os.path.isdir
    monkeypatch.setattr(
        os.path, "isdir",
        lambda p: True if str(p).startswith("/tmp/bench_adjudicate_")
        else real_isdir(p))

    rec = bench._adjudicate({"q": 9.0}, n_runs=7, pattern="BENCH_r*.json")
    assert order == ["H", "P", "H", "P", "H", "P"]
    assert rec["head_legs"] == [{"q": 2.0}, {"q": 9.9}, {"q": 2.1}]
    assert rec["prior_legs"] == [{"q": 5.0}, {"q": 2.2}, {"q": 5.1}]
    assert rec["head_fresh"] == {"q": 2.0}
    assert rec["prior_fresh"] == {"q": 2.2}
    # prior min 2.2 >= 0.8 * head min 2.0 -> host, despite the storm leg
    assert rec["verdict"] == {"q": "host"}


class _FakeCells:
    def __init__(self):
        self.calls = 0
        self.rows = 100

    def count(self):
        self.calls += 1
        return self.rows


def test_cells_rows_memo_invalidates_on_overwrite(tmp_path):
    from ecommerce_analytics_spark.operators import ann_index

    d = tmp_path / "cells"
    d.mkdir()
    fake = _FakeCells()
    assert ann_index._cells_rows(fake, str(d)) == 100
    assert ann_index._cells_rows(fake, str(d)) == 100
    assert fake.calls == 1  # memo hit on the unchanged dir

    # In-place rebuild: contents change, mtime bumps — memo must miss.
    fake.rows = 250
    os.utime(str(d), ns=(1, 1))  # force a distinct mtime_ns
    assert ann_index._cells_rows(fake, str(d)) == 250
    assert fake.calls == 2


def test_row_count_memo_follows_file_identity(tmp_path):
    from ecommerce_analytics_spark import io

    f = tmp_path / "lineitem.parquet"
    f.write_bytes(b"x" * 10)
    fake = _FakeCells()
    assert io.row_count(str(f), fake.count) == 100
    assert io.row_count(str(f), fake.count) == 100
    assert fake.calls == 1  # same identity: no recount

    fake.rows = 250
    f.write_bytes(b"y" * 20)  # rewrite at the same path
    assert io.row_count(str(f), fake.count) == 250
    assert fake.calls == 2

    gone = str(tmp_path / "missing.parquet")
    assert io.row_count(gone, fake.count) == 250
    assert io.row_count(gone, fake.count) == 250
    assert fake.calls == 4  # unstat-able: counted on every call
