"""Event-engine benchmark: ingest while serving keyed dashboard pulls, and
cohort reports, over a seeded Kafka-style segment log.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_serve --seed 1 \
        --seconds 15 --trace 0

``--workload all`` runs both workloads one after another. Each
workload runs in a fresh child process (``workloads.py``) with a
pinned environment; this parent waits for it, stops anything it left
running, removes its run directory and prints the metrics. The last
line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. The exit code is non-zero,
and no result is printed, when a run fails.
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

WORKLOADS = ("ingest_serve", "cohort_report")
CHILD_TIMEOUT_S = 170.0
HERE = os.path.dirname(os.path.abspath(__file__))


def group_pids(pgid: int) -> list[int]:
    """Live processes in process group ``pgid`` (from /proc)."""
    pids = []
    for e in os.listdir("/proc"):
        if not e.isdigit():
            continue
        try:
            with open(f"/proc/{e}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[2] the process group
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(e))
    return pids


def stop_group(pgid: int) -> None:
    """Terminate, then kill, every process left in the group, and wait
    until none is left."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        if not group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while group_pids(pgid) and time.monotonic() < deadline:
            time.sleep(0.05)
    if group_pids(pgid):
        raise RuntimeError(f"processes of group {pgid} would not stop")


def run_one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    root = os.getcwd()
    run_dir = os.path.join(root, ".perfbench_runs", f"{workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(run_dir, "spark-local"))
    result = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_DRIVER_MEMORY": "2g",
        "TMPDIR": tmp,
        # Python DataSource workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    cmd = [
        sys.executable, os.path.join(HERE, "workloads.py"),
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
        "--run-dir", run_dir, "--result", result,
    ]
    child = subprocess.Popen(cmd, env=env, cwd=root, start_new_session=True,
                             stdout=sys.stderr)
    try:
        code = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        stop_group(child.pid)
        child.wait()
    try:
        if code != 0:
            why = (f"timed out after {CHILD_TIMEOUT_S:.0f} s" if code is None
                   else f"exit {code}")
            raise RuntimeError(f"{workload} run failed ({why})")
        with open(result) as fh:
            res = json.load(fh)
        spans = result + ".spans.jsonl"
        if trace and os.path.exists(spans):
            keep = os.path.join(root, ".perfbench_runs",
                                f"{workload}-seed{seed}.spans.jsonl")
            shutil.move(spans, keep)
        return res
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = {}
    for name in names:
        t0 = time.monotonic()
        res = run_one(name, args.seed, args.seconds, args.trace)
        results[name] = res
        print(f"# {name}: attempted {res['attempted']}, failed "
              f"{res['failed']}, wall {time.monotonic() - t0:.1f} s")
        print(f"# {name}: {json.dumps(res['info'])}")
        for k, m in res["metrics"].items():
            print(f"{name:15s} {k:36s} {m['value']:14.4f} {m['unit']}")
    if len(names) == 1:
        res = results[names[0]]
        metrics = res["metrics"]
    else:
        metrics = {f"{n}.{k}": m for n, r in results.items()
                   for k, m in r["metrics"].items()}
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
