"""Benchmark of the modforms_db_spark engine, end to end and layer by layer.

    python3 perfbench/run.py --workload headline_warm --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. Workloads (one single-client closed
loop each; the seed only permutes the order of operations in every pass):

- ``headline_warm``: the registry's P0/P1 ``headline=True`` queries and
  the four session-cache consumers, after one untimed warm-up pass has
  filled the session index caches and the JIT.
- ``build_cold``: two index consumers (k-means; MinHash LSH + connected
  components), each on a fresh copy of the input directory so every call
  rebuilds its index, plus two streaming ingests (state-store dedup;
  foreachBatch MERGE into a table), after the same warm-up pass.

Inputs are the engine's seed-42 sf0.01 tables, committed unchanged under
``perfbench/data/sf0.01``. Each run works in its own directory under
``.perfbench/work`` (its ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and Spark
warehouse), which is removed afterwards. Spark runs at ``local[N]`` with N
the usable CPUs and 4 shuffle partitions; DuckDB uses N threads.

``--trace 0`` prints the end-to-end metrics: set-up (process start through
the warm-up pass) and the median pass in CPU seconds of the worker process
tree, and the peak RSS of the Python process plus the JVM. Wall times are
per-layer metrics. ``--trace 1`` turns on Spark's event log and a streaming
progress listener through launcher settings and prints the per-layer
metrics, writing the span tree to ``.perfbench/out``.
The line before the last is a JSON report (seed, operation sets, result
hashes, failures); the last line is the result object. A wrong result
makes the run exit 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("headline_warm", "build_cold")
SF = 0.01
DATA = os.path.join(HERE, "data", f"sf{SF}")
TIMEOUT_S = 170
END_TO_END = {"setup_s": "s", "pass_cpu_s": "s", "peak_rss_mb": "MB"}


def unit(name: str) -> str:
    for suffix, u in (("_s", "s"), (".s", "s"), ("_ms", "ms"), ("_mb", "MB"), (".mb", "MB"),
                      ("_pct", "%"), ("_share", "ratio"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return u
    return "count"


def run_pids(token: str) -> list[int]:
    """Live processes whose environment carries this run's token."""
    needle = f"PERFBENCH_RUN={token}".encode()
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/environ", "rb") as fh:
                if needle in fh.read().split(b"\0"):
                    pids.append(int(pid))
        except OSError:  # ended meanwhile, or not ours to read
            continue
    return pids


def stop_all(proc: subprocess.Popen, token: str) -> None:
    """Stop the worker and everything it started (the JVM, PySpark's worker
    daemon, which runs in a process group of its own, and its workers), and
    wait until every one is gone."""
    deadline = time.time() + 15
    while True:
        proc.poll()  # reap the worker
        pids = run_pids(token)
        if not pids:
            return
        if time.time() > deadline + 15:
            raise RuntimeError(f"processes {pids} did not stop")
        sig = signal.SIGTERM if time.time() < deadline else signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def run_worker(root: str, args, trace: int, data: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    out_dir = os.path.join(root, ".perfbench", "out")
    token = f"{args.workload}-{os.getpid()}-{trace}"
    work = os.path.join(root, ".perfbench", "work", token)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    os.makedirs(out_dir, exist_ok=True)
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(
        os.environ,
        PERFBENCH_RUN=token,
        PYTHONPATH=os.pathsep.join([root, HERE]),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(cpus),
        MFDB_SHUFFLE_PARTITIONS="4",
        MFDB_DRIVER_MEM="1g",
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
    )
    cfg = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": trace, "sf": SF, "cpus": cpus, "data_dir": data, "work_dir": work,
        "stderr_log": os.path.join(work, "stderr.log"),
        "result_path": os.path.join(work, "result.json"),
        "spans_path": os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json"),
    }
    cfg_path = os.path.join(work, "config.json")
    try:
        with open(cfg_path, "w") as fh:
            json.dump(cfg | {"spawn_epoch": time.time()}, fh)
        with open(cfg["stderr_log"], "wb") as err:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
                cwd=work, env=env, stdout=err, stderr=err,
            )
            try:
                code = proc.wait(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = "timeout"
            finally:
                stop_all(proc, token)
        if code != 0 or not os.path.exists(cfg["result_path"]):
            with open(cfg["stderr_log"], errors="replace") as fh:
                sys.stderr.write(fh.read()[-4000:])
            raise RuntimeError(f"worker exited with {code}")
        with open(cfg["result_path"]) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # Turn a stop request into an exception so the worker's processes are stopped.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "modforms_db_spark", "registry.py")):
        print("run from the root of a modforms_db_spark checkout", file=sys.stderr)
        return 2
    result = run_worker(root, args, args.trace, DATA)
    if args.trace:
        metrics = {k: {"value": v, "unit": unit(k)} for k, v in result["layers"].items()}
    else:
        metrics = {k: {"value": result["metrics"][k], "unit": u} for k, u in END_TO_END.items()}
    correct = result["failed"] == 0
    print(json.dumps(result["report"]))
    print(json.dumps({
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
