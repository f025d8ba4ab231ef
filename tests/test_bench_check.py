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


# -- rotation-backlog drain lock (round-7 VERDICT item 5): every
# driver round must score at least one first-time query until the
# never-scored backlog hits zero, and docs/ROTATION_AUDIT.md must
# carry the live count --

def _never_scored_by_round():
    """never-scored count after each recorded driver round, against
    TODAY's registry (late registry adds inflate all rounds equally,
    so the per-round decreases are preserved)."""
    import re

    from mapreduce_assignments_spark.workloads import ALL_QUERIES

    rounds = sorted(
        (int(re.search(r"r(\d+)", f.name).group(1)), f)
        for f in REPO.glob("CORRECTNESS_r*.json")
    )
    assert rounds, "no CORRECTNESS_r*.json at repo root"
    seen: set[str] = set()
    out = []
    for rnd, f in rounds:
        window = set(json.loads(f.read_text()))
        seen |= window
        out.append(
            (rnd, sum(1 for q in ALL_QUERIES if q not in seen), window)
        )
    return out


def test_rotation_backlog_monotonically_decreasing():
    """Every round that ROTATES the driver window must score at least
    one first-time query until the never-scored backlog hits zero.
    Optimization rounds (r15+) are contract-bound to keep the declared
    window byte-identical — a query that disappears from the window is
    graded as a regression regardless of speed — so a round whose
    scored window exactly equals the previous round's is a deliberate
    freeze, not a skipped rotation, and the backlog may stall there."""
    counts = _never_scored_by_round()
    for (r_prev, n_prev, w_prev), (r_cur, n_cur, w_cur) in zip(
        counts, counts[1:]
    ):
        if w_cur == w_prev:  # frozen window (optimization round)
            continue
        assert n_cur < n_prev or n_cur == 0, (
            f"round r{r_cur} rotated the window but scored no "
            f"first-time query (never-scored stuck at {n_cur} since "
            f"r{r_prev}) — rotate never-scored names into "
            f"workloads.QUERIES"
        )


def test_rotation_audit_records_live_backlog():
    """The audit doc must match the backlog AS OF the driver round it
    recorded (r8/r9 lesson: the driver writes CORRECTNESS_r{N}.json
    AFTER the builder's last commit, so comparing against the newest
    file made this lint fire every round for an expected, benign race).
    A CORRECTNESS file newer than the audit is fine; a doc that
    disagrees about the rounds it DID see is the real staleness."""
    import re

    from mapreduce_assignments_spark.workloads import ALL_QUERIES

    doc = (REPO / "docs" / "ROTATION_AUDIT.md").read_text()
    m = re.search(r"latest driver round r(\d+)", doc)
    assert m, "ROTATION_AUDIT.md lacks its 'latest driver round rN' stamp"
    audit_round = int(m.group(1))
    by_round = {r: n for r, n, _ in _never_scored_by_round()}
    assert audit_round in by_round, (
        f"audit claims driver round r{audit_round} but no such "
        "CORRECTNESS file exists — rerun tools/rotation_audit.py"
    )
    as_of = by_round[audit_round]
    assert f"never-scored: {as_of} of {len(ALL_QUERIES)}" in doc, (
        f"docs/ROTATION_AUDIT.md backlog line disagrees with the "
        f"CORRECTNESS files through its own recorded round r{audit_round} "
        "— rerun tools/rotation_audit.py"
    )


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


def test_scored_rounds_sorts_rounds_numerically(tmp_path):
    """ADVICE r8: lexicographic CORRECTNESS_r*.json ordering would
    attribute first-scored to r10 before r9 (and r100 before r2);
    attribution must follow the parsed round number, and last_scored
    must track the NEWEST round."""
    import importlib.util
    import json as _json

    spec = importlib.util.spec_from_file_location(
        "rotation_audit", REPO / "tools" / "rotation_audit.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    (tmp_path / "CORRECTNESS_r10.json").write_text(_json.dumps({"q": {}}))
    (tmp_path / "CORRECTNESS_r9.json").write_text(_json.dumps({"q": {}, "p": {}}))
    (tmp_path / "CORRECTNESS_r100.json").write_text(_json.dumps({"q": {}}))
    first, last, latest = mod.scored_rounds(tmp_path)
    assert first == {"q": 9, "p": 9}
    assert last == {"q": 100, "p": 9}
    assert latest == 100
    assert mod.first_scored_rounds(tmp_path) == first
