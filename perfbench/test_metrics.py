"""BENCHMARK.json names exactly the metrics the benchmark prints, and the
summary statistics behave as documented.

    python3 -m pytest perfbench/test_metrics.py -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import tail  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402
from workloads import PARTS  # noqa: E402


def test_benchmark_json_matches_printed_metrics():
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(PARTS)


def test_tail_has_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 101)]
    value, pct = tail(xs)
    assert sum(x > value for x in xs) == 10 and pct == 90.0
    assert tail(xs[:20]) == (20.0, 100.0)  # too few samples: the maximum
