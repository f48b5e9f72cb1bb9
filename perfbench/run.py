"""Projector benchmark entry point.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload dehydrate --seed 1 --seconds 15 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it is the run record (host, config, inputs, set-up and per-op detail),
also kept in ``.perfbench/<run>/record.json`` with the spans of a traced
run next to it.

``--workload all`` runs every workload untraced and then traced, and
prints the named end-to-end figures of each, the error rate and the
tracing overhead.

Each run happens in a child process in its own process group, which is
stopped, with every process it started, before this script exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ("dehydrate", "catchup", "catalog")
RUN_TIMEOUT_S = 170
HEAP_SHARE = 0.3  # of MemTotal, for the driver JVM heap
WORK = Path(".perfbench")


def _mem_total_mb() -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def child_env(root: Path, tmp: Path) -> dict[str, str]:
    env = dict(os.environ)
    # pandas-UDF workers import the package from the checkout too
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), env.get("PYTHONPATH", "")) if p
    )
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_GRAFT_DRIVER_MEM"] = f"{int(_mem_total_mb() * HEAP_SHARE)}m"
    env["SPARK_LOCAL_DIRS"] = str(tmp / "spark")
    env["TMPDIR"] = str(tmp)
    # keep the JVM's scratch files inside the checkout as well
    env["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return env


def _group_alive(pgid: int) -> bool:
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we looked
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def stop_group(pgid: int) -> None:
    """SIGTERM the process group, then SIGKILL; wait until it is gone."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def run_one(workload: str, seed: int, seconds: float, trace: int) -> dict | None:
    """One workload run in a child process; returns its record or None."""
    root = Path.cwd()
    work = WORK / f"{workload}-s{seed}-t{trace}"
    shutil.rmtree(work, ignore_errors=True)
    tmp = work / "tmp"
    (tmp / "spark").mkdir(parents=True)
    out = work / "record.json"
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", str(work), "--out", str(out),
        "--loadavg-start", str(os.getloadavg()[0]),
    ]
    log = work / "worker.log"
    with open(log, "wb") as fh:
        child = subprocess.Popen(
            cmd, cwd=root, env=child_env(root, tmp.resolve()),
            stdout=fh, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = child.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(child.pid)
            child.wait()
    # keep the record, spans and log; drop the generated inputs and scratch
    for entry in work.iterdir():
        if entry.is_dir():
            shutil.rmtree(entry, ignore_errors=True)
    if code != 0 or not out.is_file():
        tail = log.read_text(errors="replace").splitlines()[-40:]
        print(f"{workload}: worker exit {code}", *tail, sep="\n", file=sys.stderr)
        return None
    return json.loads(out.read_text())


def run_all(seed: int, seconds: float) -> int:
    """Every workload, untraced then traced: the named figures, the error
    rate and the tracing overhead (traced minus untraced value)."""
    names = {
        "dehydrate": {"dehydrate_s": "op_p50_s"},
        "catchup": {
            "catchup_events_per_s": "items_per_s",
            "catchup_batch_p50_s": "op_p50_s",
            "catchup_batch_p90_s": "op_p90_s",
        },
        "catalog": {},
    }
    summary: dict = {}
    ok = True
    for workload in WORKLOADS:
        plain = run_one(workload, seed, seconds, 0)
        traced = run_one(workload, seed, seconds, 1)
        if plain is None or traced is None:
            ok = False
            continue
        e2e, e2e_traced = plain["end_to_end"], traced["end_to_end"]
        row = {k: e2e[v] for k, v in names[workload].items()}
        if workload == "catalog":
            row["catalog_headline_s"] = plain["detail"]["headline_s"]
            row["catalog_hotspot_s"] = plain["detail"]["hotspot_s"]
        row["setup_s"] = e2e["setup_s"]
        layers = traced["result"]["metrics"]
        row["peak_rss_mb"] = (
            layers["jvm.rss_peak_mb"]["value"] + layers["python.rss_peak_mb"]["value"]
        )
        result = plain["result"]
        row["error_rate"] = result["failed"] / result["attempted"]
        row["trace_overhead"] = {k: e2e_traced[k] - e2e[k] for k in e2e}
        ok = ok and result["correct"] and traced["result"]["correct"]
        summary[workload] = row
        for k, v in row.items():
            print(f"{workload:9s} {k:22s} {v}")
    print(json.dumps({"correct": ok, "workloads": summary}))
    return 0 if ok else 1


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not Path("open_ftth_relational_projector_spark", "__init__.py").is_file():
        print("run from the root of a source checkout: the package is missing",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    record = run_one(args.workload, args.seed, args.seconds, args.trace)
    if record is None:
        return 1
    result = record.pop("result")
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
