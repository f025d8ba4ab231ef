"""A window with no partition key moves all its input to one partition
(Spark's WindowExec warns "No Partition Defined" on every run). That is
fine only on a bounded input — a calendar, a top-k, a dimension — so
every such site carries a ``# bounded-input`` note, on its line or the
line above, saying what bounds it. A new site without one fails here."""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "mapreduce_assignments_spark"
_UNPARTITIONED = re.compile(r"Window\.(orderBy\(|partitionBy\(\)|rowsBetween\(|rangeBetween\()")
_NOTE = "# bounded-input"


def _unannotated(src: str) -> list[int]:
    lines = src.splitlines()
    return [
        i + 1
        for i, line in enumerate(lines)
        if _UNPARTITIONED.search(line)
        and _NOTE not in line
        and not (i > 0 and _NOTE in lines[i - 1])
    ]


def test_every_unpartitioned_window_is_marked_bounded():
    bad = {
        path.relative_to(PKG).as_posix(): lines
        for path in sorted(PKG.rglob("*.py"))
        if (lines := _unannotated(path.read_text()))
    }
    assert not bad, f"unpartitioned window without a {_NOTE!r} note: {bad}"


def test_lint_flags_a_bare_site_and_accepts_a_noted_one():
    bare = "w = Window.orderBy('ts')\n"
    noted = "# bounded-input: one row per day\nw = Window.orderBy('day')\n"
    assert _unannotated(bare) == [1]
    assert _unannotated(noted) == []
    assert _unannotated("w = Window.partitionBy('k').orderBy('ts')\n") == []
