"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload diameter_mixed --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It generates the inputs from the seed
in one single-threaded process, then runs the measured process
(``perfbench/measure.py``) fresh on ``local[<cpus>]``, samples the RSS
of that process tree from ``/proc``, and prints as its last stdout line

    {"correct": ..., "attempted": N, "failed": N, "metrics": {name: {"value": v, "unit": u}}}

With ``--trace 0`` the metrics are the end-to-end ones in
``BENCHMARK.json``; with ``--trace 1`` the per-layer ones. Scratch files
live under ``.perfbench/`` in the checkout and are removed at the end,
except the span logs under ``.perfbench/spans/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("diameter_mixed", "registry_cold")
CHILD_TIMEOUT_S = 170


def _pgid_members(pgid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:  # field 5 of stat: process group
            pids.append(int(name))
    return pids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler(threading.Thread):
    """Peak summed RSS of every process in one process group."""

    def __init__(self, pgid: int, period_s: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.pgid, self.period_s = pgid, period_s
        self.peak = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in _pgid_members(self.pgid)))
            self._stop_event.wait(self.period_s)

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=5)


def _stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, every process left in the group; wait until
    none is left."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        if not _pgid_members(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while _pgid_members(pgid) and time.time() < deadline:
            time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="spark-signal-etl benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (self-tests)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ingestor_etl_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout that holds ingestor_etl_spark/",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        PYTHONPATH=root,
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "tmp"),
        SPARK_GRAFT_CPUS=str(cpus),
        # keep the JVM's temp files (and no hsperfdata file) inside the checkout
        JAVA_TOOL_OPTIONS="-XX:+PerfDisableSharedMem -Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        OMP_NUM_THREADS="1",
        OPENBLAS_NUM_THREADS="1",
        PYTHONHASHSEED="0",
    )
    env.pop("SPARK_GRAFT_ON_CLUSTER", None)
    result = None
    try:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload", args.workload,
             "--seed", str(args.seed), "--out", work, "--scale", str(args.scale)],
            env=env, cwd=work, check=True, stdout=sys.stderr, timeout=CHILD_TIMEOUT_S,
        )
        result_path = os.path.join(work, "result.json")
        spawn = time.time()
        child = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "measure.py"), "--workload", args.workload,
             "--data", work, "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--spawn-time", repr(spawn), "--result", result_path],
            env=env, cwd=work, stdout=sys.stderr, start_new_session=True,
        )
        sampler = RssSampler(child.pid)
        sampler.start()
        try:
            code = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        sampler.stop()
        _stop_group(child.pid)
        if code == 0:
            with open(result_path) as fh:
                result = json.load(fh)
            spans = os.path.join(base, "spans")
            os.makedirs(spans, exist_ok=True)
            for name in os.listdir(os.path.join(work, "spans")):
                shutil.copy(os.path.join(work, "spans", name), spans)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if result is None:
        print("perfbench: the measured process failed or timed out", file=sys.stderr)
        return 1
    measured = dict(result["metrics"], **{"driver.peak_rss_mb": sampler.peak / 2**20})
    for p in result["problems"]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "master": result["master"],
                      "cpus": cpus, "iterations": result.get("iterations"),
                      "scale": args.scale}))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
