"""bench.py --check: the trend-regression gate (round-5 VERDICT item
7). Exercised against synthetic trend files — no Spark, no timing."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
_spec = importlib.util.spec_from_file_location("bench", REPO / "bench.py")
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def _write_trend(path: Path, records: list[dict]) -> Path:
    path.write_text("".join(json.dumps(r) + "\n" for r in records))
    return path


def _rec(rev: str, samples: dict, ts: float, mode="headline", sf=0.1) -> dict:
    return {"ts": ts, "mode": mode, "sf": sf, "git_rev": rev,
            "runs": len(next(iter(samples.values()), [0])), "samples": samples}


def test_check_flags_same_rev_regression(tmp_path):
    trend = _write_trend(tmp_path / "t.jsonl", [
        _rec("abc1234", {"q1": [1.0, 1.1, 1.0], "q2": [0.5, 0.5, 0.5]}, 1.0),
        _rec("abc1234", {"q1": [3.0, 3.2, 3.1], "q2": [0.5, 0.6, 0.5]}, 2.0),
    ])
    regs = bench.check_trend(trend)
    assert len(regs) == 1 and regs[0].startswith("q1:")
    assert "abc1234" in regs[0]


def test_check_ignores_cross_rev_slowdown(tmp_path):
    """A slowdown across a code change may be a deliberate trade —
    only same-rev regressions (environment / conf) fail the gate."""
    trend = _write_trend(tmp_path / "t.jsonl", [
        _rec("abc1234", {"q1": [1.0, 1.0, 1.0]}, 1.0),
        _rec("def5678", {"q1": [3.0, 3.0, 3.0]}, 2.0),
    ])
    assert bench.check_trend(trend) == []


def test_check_absolute_floor_suppresses_subsecond_noise(tmp_path):
    """0.1s -> 0.3s is a 3x ratio but pure scheduler noise — the
    absolute floor keeps it out of the gate."""
    trend = _write_trend(tmp_path / "t.jsonl", [
        _rec("abc1234", {"q1": [0.1, 0.1, 0.1]}, 1.0),
        _rec("abc1234", {"q1": [0.3, 0.3, 0.3]}, 2.0),
    ])
    assert bench.check_trend(trend) == []


def test_check_compares_against_best_prior_median(tmp_path):
    trend = _write_trend(tmp_path / "t.jsonl", [
        _rec("abc1234", {"q1": [4.0, 4.0, 4.0]}, 1.0),
        _rec("abc1234", {"q1": [1.0, 1.0, 1.0]}, 2.0),  # the best
        _rec("abc1234", {"q1": [2.5, 2.5, 2.5]}, 3.0),  # >2x best
    ])
    regs = bench.check_trend(trend)
    assert len(regs) == 1 and "best 1.000s" in regs[0]


def test_check_passes_on_stable_timings(tmp_path):
    trend = _write_trend(tmp_path / "t.jsonl", [
        _rec("abc1234", {"q1": [1.0, 1.1, 0.9]}, 1.0),
        _rec("abc1234", {"q1": [1.2, 1.0, 1.1]}, 2.0),
    ])
    assert bench.check_trend(trend) == []


def test_check_skips_mismatched_mode_and_sf(tmp_path):
    trend = _write_trend(tmp_path / "t.jsonl", [
        _rec("abc1234", {"q1": [1.0]}, 1.0, mode="full", sf=0.1),
        _rec("abc1234", {"q1": [1.0]}, 2.0, mode="headline", sf=0.01),
        _rec("abc1234", {"q1": [9.0]}, 3.0, mode="headline", sf=0.1),
    ])
    assert bench.check_trend(trend) == []


def test_git_rev_marks_uncommitted_tracked_changes(tmp_path):
    """A run of uncommitted code must not be filed under its parent's
    rev (check_trend compares same-rev records): a tracked-file edit
    adds ``-dirty``; an untracked file does not."""
    import subprocess

    def git(*args):
        subprocess.run(
            ["git", "-C", str(tmp_path), "-c", "user.name=t",
             "-c", "user.email=t@example.com", *args],
            check=True, capture_output=True,
        )

    git("init", "-q")
    (tmp_path / "f.txt").write_text("a\n")
    git("add", "f.txt")
    git("commit", "-q", "-m", "init")
    head = subprocess.run(
        ["git", "-C", str(tmp_path), "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert bench._git_rev(tmp_path) == head
    (tmp_path / "untracked.txt").write_text("x\n")
    assert bench._git_rev(tmp_path) == head
    (tmp_path / "f.txt").write_text("b\n")
    assert bench._git_rev(tmp_path) == f"{head}-dirty"
    git("add", "f.txt")  # staged but uncommitted is still dirty
    assert bench._git_rev(tmp_path) == f"{head}-dirty"


def test_check_only_mode_requires_same_query_set(tmp_path):
    """ADVICE r7: two same-rev --only runs over different subsets ran
    under different load profiles — not comparable. Same subset still
    gates."""
    trend = _write_trend(tmp_path / "t.jsonl", [
        _rec("abc1234", {"q1": [1.0], "q2": [1.0]}, 1.0, mode="only"),
        _rec("abc1234", {"q1": [9.0]}, 2.0, mode="only"),
    ])
    assert bench.check_trend(trend) == []
    trend = _write_trend(tmp_path / "t2.jsonl", [
        _rec("abc1234", {"q1": [1.0]}, 1.0, mode="only"),
        _rec("abc1234", {"q1": [9.0]}, 2.0, mode="only"),
    ])
    regs = bench.check_trend(trend)
    assert len(regs) == 1 and regs[0].startswith("q1:")

