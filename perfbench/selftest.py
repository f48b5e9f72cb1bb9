"""Self-tests of the benchmark itself (not of the package).

    python3 perfbench/selftest.py [--seconds 2] [--seed 7]

For every workload, the by-hand ``catalog`` one included, it makes a
smoke-sized untraced run and two traced runs with the same seed, and
checks that:

* each run is correct and emits exactly the metrics ``BENCHMARK.json``
  declares for its mode, with the declared units (plus the catalog's own
  per-layer metrics on ``catalog``);
* the counts a traced run reports repeat exactly across the two runs:
  ``events.rows``, ``spark.jobs``, ``stream.batches``,
  ``sink.rows_written_per_event`` and every ``catalog.<query>.jobs``.

Exits non-zero if any workload fails a check.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

from metrics import CATALOG_LAYER

REPEATED_COUNTS = (
    "events.rows",
    "spark.jobs",
    "stream.batches",
    "sink.rows_written_per_event",
)


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_shape(result: dict, declared: list[dict], label: str) -> list[str]:
    errors = []
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        errors.append(f"{label}: not correct: {result['attempted']} attempted, "
                      f"{result['failed']} failed")
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        wrong = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        errors.append(f"{label}: missing {missing} extra {extra} wrong units {wrong}")
    return errors


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seconds", type=float, default=2)
    p.add_argument("--seed", type=int, default=7)
    args = p.parse_args()
    spec = json.loads(Path("BENCHMARK.json").read_text())
    failures = 0
    catalog = [{"name": k, "unit": u} for k, u in CATALOG_LAYER.items()]
    for workload in [w["name"] for w in spec["workloads"]] + ["catalog"]:
        plain = run(workload, args.seed, args.seconds, 0)
        first = run(workload, args.seed, args.seconds, 1)
        second = run(workload, args.seed, args.seconds, 1)
        layers = spec["per_layer"] + (catalog if workload == "catalog" else [])
        errors = check_shape(plain, spec["end_to_end"], f"{workload} trace 0")
        for label, result in (("trace 1 #1", first), ("trace 1 #2", second)):
            errors += check_shape(result, layers, f"{workload} {label}")
        counts = [
            k for k in first["metrics"]
            if k in REPEATED_COUNTS or (k.startswith("catalog.") and k.endswith(".jobs"))
        ]
        for k in counts:
            a, b = first["metrics"][k]["value"], second["metrics"][k]["value"]
            if a != b:
                errors.append(f"{workload}: {k} differs across same-seed runs: {a} vs {b}")
        status = "FAIL" if errors else "ok"
        print(f"{status:4s} {workload}: {len(counts)} counts repeat" if not errors
              else f"{status:4s} {workload}")
        for e in errors:
            print("     " + e)
        failures += bool(errors)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
