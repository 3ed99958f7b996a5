"""Seeded, correctness-checked benchmark of the capex engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload capex_pipeline --seed 1 \\
        --seconds 10 --trace 0

Each run writes the seed's inputs under ``.perfbench/data`` (once per
seed), then runs the workload in one fresh worker process on
``local[<cores>]``: set-up, a cold first pass, and an untimed check of
that pass's outputs against their DuckDB oracles. One client runs the
queries one after another (a closed loop). An untraced run then starts
fresh workers that only set up, for ``--seconds`` and at least
``SETUP_SAMPLES`` set-ups in all, and reports their median as
``setup_s``. A traced run instead runs warm passes in the same session
for ``--seconds`` and reports per-layer metrics. The last line of stdout
is one JSON object; with ``--trace 0`` its metrics are the end-to-end
ones, with ``--trace 1`` the per-layer ones. Metric names and units come
from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import procstat  # noqa: E402
from workloads import TABLES, WORKLOADS  # noqa: E402

DEADLINE_S = 170
#: fewest set-ups per untraced run (the main worker's and fresh
#: set-up-only workers'); setup_s is their median
SETUP_SAMPLES = 2


def child_env(root: str, work: str) -> dict:
    """The shipped program's defaults: no heap override, no engine
    knobs; Python workers import the engine from the checkout."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")
           and k not in ("SPARK_DRIVER_MEMORY", "SPARK_MASTER", "PYSPARK_SUBMIT_ARGS")}
    tmp = os.path.join(work, "tmp")
    env.update({
        "PYTHONPATH": os.pathsep.join([root, HERE]),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # every JVM (launcher and driver): temp files in the checkout,
        # no /tmp/hsperfdata file
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TZ": "UTC",
        "PYTHONHASHSEED": "0",
    })
    return env


def reap(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process group, the worker
    included, and wait until all of it has ended."""
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.poll()
        if not procstat.group(proc.pid):
            break
        time.sleep(0.05)
    proc.wait()


def launch(args, data: str, work: str, out: str, deadline: float,
           setup_only: bool = False) -> tuple[dict | None, str]:
    """Run one worker process in its own process group; return its
    result (None if it died) and the tail of its stderr."""
    root = os.getcwd()
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--data", data, "--work", work,
           "--out", out, "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--setup-only", str(int(setup_only))]
    log = os.path.join(work, "worker.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=root, env=child_env(root, work),
                                stdout=err, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            pass
        finally:
            reap(proc)
    with open(log, errors="replace") as f:
        tail = f.read()[-2000:]
    if proc.returncode != 0 or not os.path.exists(out):
        return None, f"worker exit {proc.returncode}: {tail}"
    with open(out) as f:
        return json.load(f), tail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still reaps its worker (``launch``'s finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "capex_data_pipeline_spark", "registry.py")):
        print("perfbench: run from the root of a checkout holding "
              "capex_data_pipeline_spark/", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)
    spec = WORKLOADS[args.workload]
    state = os.path.join(root, ".perfbench")
    data = datagen.generate(state, spec["sf"], args.seed, TABLES[spec["sf"]])
    work = os.path.join(state, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    deadline = time.time() + DEADLINE_S
    res, tail = launch(args, data, work, os.path.join(work, "run.json"), deadline)
    setups = [res["setup_s"]] if res else []
    t0 = time.time()
    while res and not args.trace and (
        len(setups) < SETUP_SAMPLES or time.time() - t0 < args.seconds
    ):
        r, tail = launch(args, data, work, os.path.join(work, f"setup{len(setups)}.json"),
                         deadline, setup_only=True)
        if r is None:
            res = None
        else:
            setups.append(r["setup_s"])

    n_q = len(spec["queries"])
    if res is None:
        # killed (OOM, timeout) or crashed: its remaining operations fail
        print(tail, file=sys.stderr)
        attempted, failed, correct = n_q, n_q, False
        metrics = {}
    else:
        attempted, failed = res["attempted"], res["failed"]
        correct = failed == 0 and res["corruption_checked"]
        for e in res["errors"]:
            print(f"FAIL {e}", file=sys.stderr)
        values = {
            "setup_s": statistics.median(setups),
            "first_pass_s": res["passes"][0]["wall_s"],
            # the cold pass's CPU. Warm passes run only traced: at these input
            # sizes they are mostly JIT compilation and spread 15-25 % between
            # runs
            "cpu_s": res["passes"][0]["cpu"]["total"],
        }
        print(f"workload {args.workload} seed {args.seed}: {len(res['passes'])} passes, "
              f"{attempted} query executions, {len(setups)} set-ups")
        print(f"  {'fail_share':<24} {failed / attempted:12.4f} ratio")
        print(f"  {'peak_rss_mb':<24} {res['peak_rss_mb']:12.1f} MB")
        kind = "end_to_end"
        if args.trace:
            kind = "per_layer"
            values = res["layers"]
            if not values["check"]["ok"]:
                correct = False
                print(f"event-log fold check failed: {values['check']}", file=sys.stderr)
            print(f"  exec.jobs per warm pass: {values['exec.jobs_each_pass']}")
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in declared[kind]}
        for k, m in metrics.items():
            print(f"  {k:<24} {m['value']:12.4f} {m['unit']}")
    shutil.rmtree(os.path.join(work, "local"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    print(json.dumps({"correct": bool(correct), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
