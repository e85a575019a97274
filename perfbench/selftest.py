#!/usr/bin/env python3
"""Self-test of the benchmark. Run from the root of a checkout:

    python3 perfbench/selftest.py

It checks that
1. every workload query resolves in ``__spark_entry__.queries()`` and the
   workloads are disjoint;
2. every metric name in ``BENCHMARK.json`` matches ``[A-Za-z0-9_.-]+`` and
   has a unit, every per-layer metric says what it should move
   (``metrics.SHOULD_MOVE``), and every listed workload is defined in
   ``workloads.py``;
3. a two-query smoke run of each workload at sf0.001, untraced and traced,
   prints every end-to-end and every per-layer metric.

Exits 0 when all checks pass, 1 otherwise.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
sys.path[:0] = [str(ROOT), str(BENCH_DIR)]

from metrics import SHOULD_MOVE, units  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
SMOKE_DATA = BENCH_DIR / "data" / "sf0.001"


def check_registry() -> list[str]:
    import __spark_entry__

    queries = __spark_entry__.queries()
    errors = [f"{w}: {n} is not in __spark_entry__.queries()"
              for w, names in WORKLOADS.items() for n in names if n not in queries]
    seen: dict[str, str] = {}
    for w, names in WORKLOADS.items():
        for n in names:
            if n in seen:
                errors.append(f"{n} is in both {seen[n]} and {w}")
            seen[n] = w
    return errors


def check_metric_names() -> list[str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    errors = [f"{key}: {m['name']!r} has a bad name or no unit"
              for key in ("end_to_end", "per_layer") for m in spec[key]
              if not NAME.fullmatch(m["name"]) or not m.get("unit")]
    errors += [f"per_layer: {m['name']} is not in metrics.SHOULD_MOVE"
               for m in spec["per_layer"] if m["name"] not in SHOULD_MOVE]
    errors += [f"workload {w['name']} is not in workloads.py"
               for w in spec["workloads"] if w["name"] not in WORKLOADS]
    return errors


def smoke(workload: str, traced: int) -> list[str]:
    cmd = [sys.executable, str(BENCH_DIR / "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(traced),
           "--sf-dir", str(SMOKE_DATA), "--limit", "2"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=300)
    label = f"smoke {workload} --trace {traced}"
    if proc.returncode != 0:
        return [f"{label}: exit {proc.returncode}: {proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{label}: result keys {sorted(result)}")
    if result.get("correct") is not True or result.get("failed") != 0:
        errors.append(f"{label}: correct={result.get('correct')} "
                      f"failed={result.get('failed')}")
    wanted = units("per_layer" if traced else "end_to_end")
    got = result.get("metrics", {})
    for name, unit in wanted.items():
        metric = got.get(name)
        if (not metric or metric.get("unit") != unit
                or not isinstance(metric.get("value"), (int, float))):
            errors.append(f"{label}: metric {name} missing or malformed: {metric}")
    if set(got) != set(wanted):
        errors.append(f"{label}: unexpected metrics {sorted(set(got) - set(wanted))}")
    return errors


def main() -> int:
    errors = check_registry() + check_metric_names()
    for workload in WORKLOADS:
        for traced in (0, 1):
            errors += smoke(workload, traced)
    for error in errors:
        print(f"FAIL {error}")
    print("selftest:", "FAILED" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
