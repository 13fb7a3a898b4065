"""scripts/stage_report.py on a hand-written event log: per-tag jobs,
stages and tasks, executor sums, the no-job gap before a phase and the
per-unit seconds."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
LOG = REPO / "tests" / "data" / "stage_report_eventlog.json"


@pytest.fixture(scope="module")
def report():
    spec = importlib.util.spec_from_file_location(
        "stage_report", REPO / "scripts" / "stage_report.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _table(report, after=None):
    with open(LOG) as fh:
        return report.tag_table(fh, after)


def test_after_drops_the_warm_up(report):
    assert "warm-up" in _table(report)
    assert list(_table(report, "warm-up")) == [
        "fuzzy_min/residue", "fuzzy_min/score", "-"]


def test_counts_and_executor_sums(report):
    rows = _table(report, "warm-up")
    res, score = rows["fuzzy_min/residue"], rows["fuzzy_min/score"]
    assert (res["jobs"], res["stages"], res["tasks"]) == (1, 1, 2)
    # stage 3 is listed by two jobs but never runs: it counts nowhere
    assert (score["jobs"], score["stages"], score["tasks"]) == (3, 3, 3)
    assert res["run_s"] == pytest.approx(0.5)
    assert res["cpu_s"] == pytest.approx(0.4)
    assert res["gc_s"] == pytest.approx(0.01)
    assert res["write_mb"] == pytest.approx(1.5)
    assert score["read_mb"] == pytest.approx(3.0)
    assert score["write_mb"] == pytest.approx(2.0)


def test_gap_span_and_busy(report):
    rows = _table(report, "warm-up")
    res, score = rows["fuzzy_min/residue"], rows["fuzzy_min/score"]
    # no job runs from the warm-up's end (1.5 s) to the residue job (2.0 s)
    assert res["gap_s"] == pytest.approx(0.5)
    # the unit's build: residue job ends at 2.4 s, first score job at 3.4 s
    assert score["gap_s"] == pytest.approx(1.0)
    # score jobs 3.4-4.0 and 3.9-4.6 overlap; 4.8-4.9 follows a pause
    assert score["span_s"] == pytest.approx(1.5)
    assert score["busy_s"] == pytest.approx(1.3)
    assert rows["-"]["gap_s"] == pytest.approx(0.1)


def test_unit_seconds_and_render(report):
    rows = _table(report, "warm-up")
    unit = report.unit_table(rows)["fuzzy_min"]
    assert unit["jobs"] == 4
    assert unit["seconds"] == pytest.approx(0.5 + 0.4 + 1.0 + 1.5)
    text = report.render(rows)
    assert text.splitlines()[0].split() == ["tag", *report.COLS]
    assert text.splitlines()[-1].split() == ["fuzzy_min", "4", "3.40"]
