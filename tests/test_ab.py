"""BENCH/ab.py, the interleaved A/B tool: its summary and verdicts over
synthetic legs, its exit status on a result-hash mismatch, the git export
and the clean-up of a leg killed by its timeout. No Spark runs here."""

import importlib.util
import json
import os
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location("ab", os.path.join(ROOT, "BENCH", "ab.py"))
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def test_summary_ties_count_for_neither_side_median_and_quartiles():
    parent = [1.0, 2.0, 3.0, 4.0, 5.0]
    change = [1.0, 1.5, 3.5, 4.0, 4.0]  # wins pairs 2 and 5, ties 1 and 4
    assert ab.change_wins(parent, change, lower=True) == 2
    assert ab.change_wins(parent, change, lower=False) == 1
    assert ab.quartiles(parent) == (3.0, 2.0, 4.0)
    assert ab.quartiles([4.0, 1.0, 3.0, 2.0]) == (2.5, 1.75, 3.25)
    assert ab.quartiles([7.0]) == (7.0, 7.0, 7.0)
    row = ab.metric_row("pass_s", parent, change, 0.25, True)
    assert (row["wins"], row["pairs"]) == (2, 5)
    assert row["delta"] == pytest.approx(0.5 / 3.0)
    assert row["parent_q"] == (3.0, 2.0, 4.0)


def test_claim_met_needs_nine_of_ten_wins_and_a_gap_above_the_parent_iqr():
    parent = [2.0, 2.1, 1.9, 2.05, 1.95, 2.0, 2.1, 1.9, 2.05, 1.95]
    better = [p - 0.5 for p in parent]
    assert ab.verdict(parent, better, 0.25, True) == "claim met"
    # 8/10 wins: a clear gap is not enough
    eight = better[:8] + parent[8:]
    assert ab.change_wins(parent, eight, True) == 8
    assert ab.verdict(parent, eight, 0.25, True) != "claim met"
    # 10/10 wins, but the gap (0.01) is inside the parent's IQR (0.1)
    close = [p - 0.01 for p in parent]
    assert ab.change_wins(parent, close, True) == 10
    assert ab.verdict(parent, close, 0.25, True) == "flat"
    # too few pairs to claim anything
    assert ab.verdict(parent[:5], better[:5], 0.25, True) == "flat"
    # "higher is better" flips the sides
    assert ab.verdict(better, parent, 0.25, False) == "claim met"


def test_regression_when_the_change_median_is_worse_by_more_than_the_bound():
    parent = [2.0, 2.02, 1.98, 2.01, 1.99]
    assert ab.verdict(parent, [p * 1.3 for p in parent], 0.25, True) == "regression"
    assert ab.verdict(parent, [p * 1.2 for p in parent], 0.25, True) == "flat"
    assert ab.verdict(parent, [p * 0.7 for p in parent], 0.25, False) == "regression"


def test_unresolved_when_the_parent_spread_exceeds_the_bound():
    parent = [1.0, 2.0, 3.0, 4.0, 5.0]  # IQR 2.0 > 0.25 * median 3.0
    assert ab.verdict(parent, [3.1, 2.0, 3.0, 5.0, 4.0], 0.25, True) == "unresolved"
    # every change leg beats every parent leg: not unresolved
    assert ab.verdict(parent, [0.5, 0.6, 0.7, 0.8, 0.9], 0.25, True) == "flat"
    # no bound (headline keys): no verdict but a met claim
    assert ab.verdict(parent, [3.1, 2.0, 3.0, 5.0, 4.0], None, True) == "-"


def _headline_leg(hashes):
    return {"queries": {k: {"sec": 0.5, "hash": h, "rows": 3} for k, h in hashes.items()}, "wall_s": 1.0}


@pytest.mark.parametrize("differ, status", [(False, 0), (True, 1)])
def test_headline_hash_mismatch_exits_non_zero(tmp_path, monkeypatch, capsys, differ, status):
    legs = []

    def fake_run_leg(tree, argv, spark_local):
        legs.append((os.path.basename(tree), argv))
        odd = differ and tree.endswith("change") and len(legs) > 2
        return _headline_leg({"a": "h1", "b": "h2-other" if odd else "h2"})

    def fake_export(repo, ref, dest):
        os.makedirs(dest)
        return ref * 40

    monkeypatch.setattr(ab, "run_leg", fake_run_leg)
    monkeypatch.setattr(ab, "export", fake_export)
    monkeypatch.setattr(ab, "RECEIPT_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path))
    assert ab.main(["p", "c", "--workload", "headline", "--pairs", "2", "--seed", "5", "--keys", "a,b"]) == status
    # pair 0 runs the parent first, pair 1 the change
    assert [side for side, _ in legs] == ["parent", "change", "change", "parent"]
    assert legs[0][1][-2:] == [ab.HEADLINE_LEG, "a,b"]
    report = capsys.readouterr().out
    assert ("result hashes differ: b" in report) == differ
    (receipt,) = tmp_path.glob("ab_ppppppp_ccccccc_headline_s5.json")
    got = json.loads(receipt.read_text())
    assert [p["seed"] for p in got["pairs"]] == [5, 6]
    assert got["summary"]["mismatched"] == (["b"] if differ else [])


def test_perfbench_summary_reads_bounds_and_flags_wrong_answers():
    end_to_end = [{"name": "pass_s", "better": "lower", "bound": 0.25}]

    def leg(v, correct=True):
        return {"correct": correct, "attempted": 10, "failed": 0 if correct else 1,
                "metrics": {"pass_s": {"value": v, "unit": "s"}}}

    pairs = [{"parent": leg(2.0), "change": leg(3.0)}, {"parent": leg(2.0), "change": leg(3.0, False)},
             {"parent": {"error": "timed out"}, "change": leg(1.0)}]
    s = ab.perfbench_summary(pairs, end_to_end)
    (row,) = s["rows"]
    assert (row["pairs"], row["verdict"]) == (2, "regression")
    assert s["incorrect_legs"] == {"parent": 0, "change": 1}
    assert s["failed_ops"] == {"parent": [0, 20], "change": [1, 20]}
    assert not s["ok"]


def test_export_writes_the_tree_without_git_metadata(tmp_path):
    repo = tmp_path / "repo"
    (repo / "pkg").mkdir(parents=True)
    (repo / "pkg" / "mod.py").write_text("X = 1\n")
    git = ["git", "-C", str(repo), "-c", "user.name=t", "-c", "user.email=t@t"]
    subprocess.run(["git", "init", "-q", str(repo)], check=True)
    subprocess.run([*git, "add", "-A"], check=True)
    subprocess.run([*git, "commit", "-qm", "one"], check=True)
    first = subprocess.run([*git, "rev-parse", "HEAD"], check=True, capture_output=True, text=True).stdout.strip()
    (repo / "pkg" / "mod.py").write_text("X = 2\n")
    subprocess.run([*git, "commit", "-qam", "two"], check=True)

    dest = tmp_path / "out"
    assert ab.export(str(repo), "HEAD~1", str(dest)) == first
    assert (dest / "pkg" / "mod.py").read_text() == "X = 1\n"
    assert not (dest / ".git").exists()
    with pytest.raises(subprocess.CalledProcessError):
        ab.export(str(repo), "no-such-ref", str(tmp_path / "bad"))


@pytest.mark.parametrize("leg_ignores_sigint", [False, True])
def test_a_leg_killed_by_its_timeout_leaves_no_process(tmp_path, monkeypatch, leg_ignores_sigint):
    """The leg's child moves to its own process group, as pyspark's worker
    daemon does; killing the leg must still take it down."""
    pid_file = tmp_path / "child.pid"
    child = f"import os, time; os.setpgid(0, 0); open({str(pid_file)!r}, 'w').write(str(os.getpid())); time.sleep(600)"
    leg = (
        "import signal, subprocess, sys, time\n"
        + ("signal.signal(signal.SIGINT, signal.SIG_IGN)\n" if leg_ignores_sigint else "")
        + f"subprocess.Popen([sys.executable, '-c', {child!r}])\n"
        + "time.sleep(600)\n"
    )
    monkeypatch.setattr(ab, "LEG_TIMEOUT_S", 3.0)
    monkeypatch.setattr(ab, "GRACE_S", 1.0)
    t0 = time.monotonic()
    got = ab.run_leg(str(tmp_path), [sys.executable, "-c", leg], str(tmp_path))
    assert got["error"].startswith("timed out")
    assert time.monotonic() - t0 < 60
    pid = int(pid_file.read_text())
    deadline = time.monotonic() + 10
    while _running(pid) and time.monotonic() < deadline:
        time.sleep(0.1)
    assert not _running(pid), f"the leg's child {pid} survived"


def _running(pid):
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False
