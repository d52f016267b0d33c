"""Regression tests for bench.py's recorded-floor scan.

Round-11 postmortem (VERDICT.md "What's wrong" #1/#2): the driver
records bench stdout with a ~2000-char tail capture; r11's output line
outgrew it, so BENCH_r11.json landed with ``"parsed": null`` — key
PRESENT, value null — and ``rec.get("parsed", rec)`` returned ``None``,
crashing every subsequent ``python bench.py`` run with an
AttributeError outside the except clause. These tests pin the two
fixes: the scan must tolerate parsed-null records, and the floor it
builds from the REAL recorded history must be non-empty and sane.
"""

from __future__ import annotations

import json
import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import bench  # noqa: E402


def test_recorded_floor_survives_parsed_null(tmp_path):
    """A driver record with parsed: null must be skipped, not crash."""
    (tmp_path / "BENCH_r01.json").write_text(
        json.dumps({"parsed": {"queries": {"q1": 1.5}, "calibration_sec": 0.4}})
    )
    (tmp_path / "BENCH_r02.json").write_text(
        json.dumps({"parsed": None, "tail": "…truncated…", "rc": 0})
    )
    (tmp_path / "BENCH_r03.json").write_text(
        json.dumps({"parsed": {"queries": {"q1": 1.2}, "calibration_sec": 0.3}})
    )
    scan = bench.recorded_floor(str(tmp_path), max_load=1.0)
    assert scan["fq"] == {"q1": 1.2}
    assert scan["calib_floor"] == 0.3
    assert scan["used"] == ["BENCH_r01.json", "BENCH_r03.json"]


def test_recorded_floor_skips_contended_and_garbage(tmp_path):
    (tmp_path / "BENCH_r01.json").write_text(
        json.dumps({"queries": {"q1": 9.0}, "contended": True})
    )
    (tmp_path / "BENCH_r02.json").write_text("not json at all")
    (tmp_path / "BENCH_r03.json").write_text(
        json.dumps({"queries": {"q1": 2.0}, "load_avg_start": 0.2})
    )
    scan = bench.recorded_floor(str(tmp_path), max_load=1.0)
    assert scan["fq"] == {"q1": 2.0}
    # contended round's queries still count as latest_q fallback source
    assert scan["used"] == ["BENCH_r03.json"]


def test_recorded_floor_on_real_history():
    """The scan over the ACTUAL repo history (incl. the poisoned
    BENCH_r11.json with parsed: null) must not raise and must yield a
    floor covering the headline suite."""
    scan = bench.recorded_floor(str(REPO), max_load=1.0)
    assert scan["fq"], "real history produced an empty floor"
    assert "q1_pricing_summary" in scan["fq"]
    # r11 is tail-truncated: it must never appear in `used`
    assert "BENCH_r11.json" not in scan["used"]


def test_cold_anchor_falls_back_to_warm_anchor_only_through_r14():
    """The SPARK_GRAFT_BENCH_FLOOR override and the recorded-floor scan
    share one rule: ``calibration_sec`` stands in for the cold anchor
    only for rounds <= 14 (r15 recorded it after the warm-up)."""
    warm_only = {"calibration_sec": 0.3}
    assert bench.cold_anchor(warm_only, 14) == 0.3
    assert bench.cold_anchor(warm_only, 15) is None
    assert bench.cold_anchor(warm_only, None) is None
    both = {"calibration_sec": 0.3, "calibration_cold_sec": 0.5}
    assert bench.cold_anchor(both, 16) == 0.5
