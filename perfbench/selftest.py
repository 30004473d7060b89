"""Benchmark self-test at sf0.001 (``python3 perfbench/run.py --selftest``).

For every workload in ``BENCHMARK.json``:

1. an untraced run of one timed cycle must be correct (``failed == 0``) and
   emit exactly the declared end-to-end metrics, with their units and
   finite positive values;
2. a traced run with ``--inject-wrong`` (one expected output perturbed)
   must emit exactly the declared per-layer metrics with their units,
   and must report ``failed > 0`` — the output checks can fail.
"""

from __future__ import annotations

import json
import math
import os

from run import ROOT, result_line, run_once

SEED = 7
SF = 0.001


def _metric_problems(line: dict, declared: list[dict], positive: bool) -> list[str]:
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in line["metrics"].items()}
    probs = []
    if got != want:
        probs.append(f"metrics/units differ from BENCHMARK.json: {sorted(set(got.items()) ^ set(want.items()))}")
    for k, v in line["metrics"].items():
        x = v["value"]
        if not math.isfinite(x) or (positive and x <= 0):
            probs.append(f"{k} = {x}")
    return probs


def selftest() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    failures = []
    for wl in (w["name"] for w in bench["workloads"]):
        line = result_line(run_once(wl, SEED, 1, 0, SF, min_cycles=1), 0)
        probs = _metric_problems(line, bench["end_to_end"], positive=True)
        if not line["correct"] or line["failed"] or line["attempted"] < 1:
            probs.append(f"untraced run not correct: {line['attempted']} attempted, {line['failed']} failed")
        line = result_line(run_once(wl, SEED, 1, 1, SF, inject_wrong=True, min_cycles=1), 1)
        probs += _metric_problems(line, bench["per_layer"], positive=False)
        if line["failed"] == 0 or line["correct"]:
            probs.append("an injected wrong expectation was not detected")
        print(json.dumps({"selftest": wl, "ok": not probs, "problems": probs}))
        failures += probs
    return 1 if failures else 0
