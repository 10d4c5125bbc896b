#!/usr/bin/env python3
"""Median and quartile spread of repeated benchmark runs.

    python3 perfbench/spread.py runs.jsonl [more.jsonl ...]

Each input line holds the last stdout line of one ``run.py`` invocation
(other lines are skipped).  For every metric prints the median, the
first and third quartiles (``statistics.quantiles(values, n=4)``) and their
distance as a share of the median, next to the metric's bound from
``BENCHMARK.json``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> None:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bounds = {m["name"]: m.get("bound") for m in json.load(f)["end_to_end"]}
    values: dict[str, list[float]] = {}
    runs = correct = 0
    for path in sys.argv[1:]:
        with open(path) as f:
            for line in f:
                try:
                    res = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if "metrics" not in res:
                    continue
                runs += 1
                correct += bool(res["correct"])
                for name, m in res["metrics"].items():
                    values.setdefault(name, []).append(m["value"])
    print(f"runs {runs}, correct {correct}")
    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        bound = bounds.get(name)
        flag = "" if bound is None else f"  bound {bound:.2f}  {'ok' if spread < bound / 3 else 'WIDE'}"
        print(f"{name:40s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  spread {spread:.3f}{flag}")


if __name__ == "__main__":
    main()
