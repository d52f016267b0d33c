"""``tools/ab_bench.py`` report logic over canned ``run.py`` output
(no Spark, no subprocess)."""

from __future__ import annotations

import importlib.util
import json
import os

_PATH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "ab_bench.py")
_spec = importlib.util.spec_from_file_location("ab_bench", _PATH)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

METRICS = [
    {"name": "latency_s_p50", "better": "lower"},
    {"name": "rows_per_s", "better": "higher"},
]


def _stdout(latency: float, rows: float, external: float = 0.1, failed: int = 0) -> str:
    info = {"workload": "stream_ingest", "noise_controls": {"external_cpu_cores": external}}
    result = {
        "correct": failed == 0,
        "attempted": 14,
        "failed": failed,
        "metrics": {
            "latency_s_p50": {"value": latency, "unit": "s"},
            "rows_per_s": {"value": rows, "unit": "1/s"},
        },
    }
    return "spark log noise\n" + json.dumps(info) + "\n" + json.dumps(result) + "\n"


def test_parse_run_reads_the_last_two_lines():
    run = ab.parse_run(_stdout(0.9, 210.0, external=0.7))
    assert run == {
        "metrics": {"latency_s_p50": 0.9, "rows_per_s": 210.0},
        "external_cpu_cores": 0.7,
        "correct": True,
        "failed": 0,
    }


def test_summary_counts_wins_by_direction_and_flags_contention():
    base = [(1.0, 200.0), (0.9, 220.0), (0.95, 210.0), (1.1, 190.0)]
    new = [(0.8, 250.0), (0.85, 225.0), (0.96, 260.0), (0.7, 280.0)]
    pairs = [
        (
            11 + i,
            ab.parse_run(_stdout(*b, external=0.9 if i == 2 else 0.1)),
            ab.parse_run(_stdout(*n, failed=1 if i == 3 else 0)),
        )
        for i, (b, n) in enumerate(zip(base, new))
    ]
    lines = ab.summarize(pairs, METRICS)
    text = "\n".join(lines)
    assert "! seed 13 base: external_cpu_cores 0.90 > 0.5" in text
    assert "! seed 14 new: 1 failed, correct=False" in text
    # latency: lower wins on seeds 11, 12, 14; rows: higher wins on all
    assert "new wins 3/4; median -15.4%" in text
    assert "new wins 4/4" in text
    # base latency quartiles (inclusive): 0.9375 .. 1.025
    assert "median 0.975 q1 0.9375 q3 1.025 IQR 0.0875" in text


def test_quartiles_and_seed_ranges():
    assert ab.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]) == (2.0, 3.0, 4.0)
    assert ab.quartiles([7.0]) == (7.0, 7.0, 7.0)
    assert ab.seeds_arg("11-14") == [11, 12, 13, 14]
    assert ab.seeds_arg("3,9") == [3, 9]
