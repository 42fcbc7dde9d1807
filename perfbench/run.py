"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Starts ``workloads.py`` in its own
process group (its Spark JVM and Python workers join that group), samples
the group's total resident memory while it runs, stops whatever of the
group is left when it ends, and prints one JSON result as the last line
of standard output. Everything the run writes lives under
``.bench_build/perfbench/`` in the checkout; traced runs keep their spans
and per-layer table in ``.bench_build/perfbench/traces/``.
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
ROOT = os.path.dirname(HERE)
WORKLOADS = ("search_longlist", "ingest_live")
TIMEOUT_S = 125  # a run, stopping included (at most 40 s more), must end within 180 s


def group_rss_mb(pgid: int) -> float:
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            if os.getpgid(int(pid)) != pgid:
                continue
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue  # the process ended while we looked
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


def group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def stop_group(child: subprocess.Popen) -> None:
    """Stop every process left in the child's group and wait until all
    have ended. The child is reaped on the way: a zombie still counts as a
    member of its group."""
    pgid = child.pid
    for sig, wait_s in ((signal.SIGTERM, 10), (signal.SIGKILL, 30)):
        child.poll()
        if not group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            child.poll()
            if not group_alive(pgid):
                return
            time.sleep(0.1)
    if group_alive(pgid):
        raise RuntimeError(f"processes of group {pgid} did not stop")


def driver_memory() -> str:
    """A quarter of the host's RAM, at most 4 GiB: the package default
    (48g) exceeds small hosts, and the machine may be shared."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1024, min(4096, kb // 4 // 1024))}m"


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--plant-wrong", action="store_true",
                   help="flip the first check, to test that failures are counted")
    a = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "rabbit_index_ingest_spark")):
        print("rabbit_index_ingest_spark not found next to perfbench/", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result = os.path.join(work, "result.json")
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp, SPARK_DRIVER_MEMORY=driver_memory(),
               # keep the JVMs' temporary and perf-data files inside the checkout
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
               # the package's session warm-up repeats the JIT warm-up that the
               # set-up build pays anyway; skipping it keeps runs short
               SPARK_GRAFT_NO_WARM="1")
    cmd = [sys.executable, os.path.join(HERE, "workloads.py"), "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--result", result] + (["--plant-wrong"] if a.plant_wrong else [])
    child = subprocess.Popen(cmd, env=env, cwd=work, start_new_session=True,
                             stdout=sys.stderr)
    peak = [0.0]
    done = threading.Event()

    def sample():
        while not done.is_set():
            peak[0] = max(peak[0], group_rss_mb(child.pid))
            done.wait(0.2)

    sampler = threading.Thread(target=sample)
    sampler.start()
    # a terminated run still stops its process group (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        code = child.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        done.set()
        sampler.join()
        stop_group(child)
    if code == 0:
        with open(result) as f:
            res = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        print(f"workload process failed (exit {code})", file=sys.stderr)
        return 1

    e2e = res["end_to_end"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "host": res["host"]}))
    if a.trace:
        res["per_layer"]["session.peak_rss_mb"] = peak[0]
        traces = os.path.join(base, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{a.workload}-{a.seed}.json"), "w") as f:
            json.dump(res, f)
        print(f"traced end-to-end: {json.dumps(e2e)}")
        for name, v in res["per_layer"].items():
            print(f"  {name:<32} {v:>14.6g} {units[name]}")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in res["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
