"""One benchmark run in its own process: set up, warm up, measure, check.

Started by ``run.py`` with the path of a JSON config; writes the result JSON
to the path the config names. The engine is reached only through
``session.get_spark``, ``registry.get_registry``, each ``QueryDef.builder``
and the returned DataFrame (its query execution and ``toPandas``).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import shutil
import statistics
import sys
import time
import traceback

import duckdb
import pandas as pd

INDEX_CONSUMERS = (
    "q_cluster_kmeans",
    "q_dedup_minhash_lsh",
    "q_dedup_fuzzy_apply",
    "q_dedup_semantic",
)
# Rebuilt on fresh input by build_cold: the k-means index and the MinHash
# LSH + connected-components index. The run-time budget of a run leaves out
# the MinHash-only and the embedding rebuilds.
COLD_REBUILDS = ("q_cluster_kmeans", "q_dedup_fuzzy_apply")
# Streaming ingest: a state-store dedup and a foreachBatch MERGE into a table.
STREAMS = ("q_stream_dedup", "q_stream_upsert")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
JVM_ERROR = re.compile(rb"\bERROR\b|Exception")
# Registering modules of the workloads' operations; each gets a pair of
# per-layer metrics, so the metric set does not depend on the registry.
MODULES = (
    "functions.arrays_json", "llm.dedup", "llm.pipeline", "llm.similarity",
    "llm.text_stats", "operators.aggregates", "operators.joins", "operators.scans",
    "operators.temporal", "operators.tpch", "operators.windows", "sources.sinks",
    "streaming.batch_twins", "streaming.streams",
)


def workload_ops(workload: str, reg: dict) -> tuple[list[str], set[str]]:
    """``(operations, names that read a fresh input copy every time)``."""
    if workload == "headline_warm":
        # The P0/P1 headline queries plus the session-cache consumers: the
        # warm-up pass of all 29 headline queries does not fit a run's budget.
        return sorted(
            n for n, q in reg.items()
            if q.headline and (q.priority in ("P0", "P1") or n in INDEX_CONSUMERS)
        ), set()
    if workload == "build_cold":
        return sorted(COLD_REBUILDS + STREAMS), set(COLD_REBUILDS)
    raise ValueError(f"unknown workload {workload!r}")


def comparable(workload: str, ops: list[str], reg: dict) -> list[str]:
    """Operations whose Spark time enters ``duckdb_ratio``: an oracle exists,
    DuckDB does the same work (no sink write, no streaming machinery) and,
    when warm, the result is not a session cache read. The cold workload
    scores cache consumers at rebuild time. None is silently replaced."""
    return [
        n for n in ops
        if reg[n].oracle is not None
        and "sink" not in reg[n].tags
        and not reg[n].module.endswith(".streams")
        and (workload == "build_cold" or n not in INDEX_CONSUMERS)
    ]


def norm(pdf: pd.DataFrame) -> pd.DataFrame:
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c].dtype):
            pdf[c] = pdf[c].astype("datetime64[us]")
    return pdf


def vhash(pdf: pd.DataFrame) -> str:
    """Order-insensitive value hash: columns by name, rows sorted as text."""
    pdf = norm(pdf.reindex(sorted(pdf.columns), axis=1))
    rows = sorted("\x01".join(map(str, r)) for r in pdf.itertuples(index=False))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


class ErrLog:
    """Counts JVM stderr lines that report an error, per read window."""

    def __init__(self, path: str) -> None:
        self.path, self.pos = path, os.path.getsize(path)

    def take(self) -> int:
        with open(self.path, "rb") as fh:
            fh.seek(self.pos)
            data = fh.read()
        self.pos += len(data)
        return sum(1 for line in data.splitlines() if JVM_ERROR.search(line))


def tree_cpu_s() -> float:
    """CPU seconds used so far by this interpreter and its descendants: the
    JVM, PySpark's worker daemon and its workers, counting ended workers
    through their parent's reaped-children time."""
    children: dict[int, list[int]] = {}
    times: dict[int, int] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended meanwhile
            continue
        children.setdefault(int(fields[1]), []).append(int(pid))
        times[int(pid)] = sum(map(int, fields[11:15]))  # utime stime cutime cstime
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += times.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def eventlog_cpu_s(spark) -> float:
    """CPU seconds of the JVM thread that writes the Spark event log."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    return sum(
        mx.getThreadCpuTime(t.getThreadId())
        for t in mx.dumpAllThreads(False, False)
        if t.getThreadName() == "spark-listener-group-eventLog"
    ) / 1e9


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def run_op(spark, reg, name: str, sf_dir: str) -> tuple[list[float], int, pd.DataFrame]:
    """Build, plan and collect one operation: four epoch marks around the
    phases, the number of jobs the builder launched, and the result."""
    sc = spark.sparkContext
    group = f"perfbench-build-{time.time_ns()}"
    sc.setJobGroup(group, f"build {name}")
    t0 = time.time()
    df = reg[name].builder(spark, sf_dir)
    t1 = time.time()
    sc.setLocalProperty("spark.jobGroup.id", None)
    df._jdf.queryExecution().executedPlan()
    t2 = time.time()
    pdf = df.toPandas()
    t3 = time.time()
    return [t0, t1, t2, t3], len(sc.statusTracker().getJobIdsForGroup(group)), pdf


def main(cfg: dict) -> dict:
    workload, seed, trace = cfg["workload"], cfg["seed"], cfg["trace"]
    data_dir, work = cfg["data_dir"], cfg["work_dir"]
    errlog = ErrLog(cfg["stderr_log"])

    from modforms_db_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.time()
    from modforms_db_spark.registry import get_registry

    reg = get_registry()
    t_registry = time.time()

    recorder = None
    if trace:
        from layers import ProgressRecorder

        recorder = ProgressRecorder()
        spark.streams.addListener(recorder)

    ops, fresh = workload_ops(workload, reg)
    error_lines: dict[str, int] = {}
    errlog.take()
    warm: dict[str, pd.DataFrame] = {}
    warmup_s: dict[str, float] = {}
    # Warm-up: JIT, codegen and the session index caches. A second pass
    # lowers the first timed pass's CPU (less JIT backlog) but did not
    # narrow its run-to-run spread, and a run's time budget is tight.
    for name in ops:
        marks, _, warm[name] = run_op(spark, reg, name, data_dir)
        warmup_s[name] = marks[3] - marks[0]
        error_lines[f"warmup:{name}"] = errlog.take()
    t_setup, cpu_setup = time.time(), tree_cpu_s()

    ref = {n: vhash(pdf) for n, pdf in warm.items()}
    del warm
    con = duckdb.connect(config={"threads": cfg["cpus"]})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    cmp_set = comparable(workload, ops, reg)

    rng = random.Random(seed)
    records: list[dict] = []
    failures: list[dict] = []
    storage_mb: list[float] = []
    passes = 0
    log_cpu0 = eventlog_cpu_s(spark) if trace else 0.0
    t_start = time.perf_counter()
    while passes == 0 or time.perf_counter() - t_start < cfg["seconds"]:
        order = list(ops)
        rng.shuffle(order)
        for name in order:
            sf_dir = data_dir
            if name in fresh:
                sf_dir = os.path.join(work, f"input-{passes}-{name}")
                shutil.copytree(data_dir, sf_dir)
            rec = {"name": name, "pass": passes, "module": reg[name].module.split(".", 1)[1]}
            if rec["module"] not in MODULES:
                raise RuntimeError(f"{name}: module {rec['module']} has no per-layer metrics")
            try:
                cpu0 = tree_cpu_s()
                rec["marks"], rec["build_jobs"], pdf = run_op(spark, reg, name, sf_dir)
                rec["cpu_s"] = tree_cpu_s() - cpu0
                rec["wall_s"] = rec["marks"][3] - rec["marks"][0]
                if name in fresh and not rec["build_jobs"]:
                    # No index build on fresh input: a cached index was read
                    # and the workload would not measure what it claims.
                    failures.append({"name": name, "pass": passes, "why": "no build job on fresh input"})
                rec["rows"], got = len(pdf), vhash(pdf)
                del pdf
                if reg[name].oracle is not None:
                    t0 = time.perf_counter()
                    want = con.execute(reg[name].oracle).df()
                    rec["oracle_s"] = time.perf_counter() - t0
                    if vhash(want) != got:
                        failures.append({"name": name, "pass": passes, "why": "differs from DuckDB"})
                if got != ref[name]:
                    failures.append({"name": name, "pass": passes, "why": "differs from warm-up result"})
                if name in fresh:  # its warm twin: the session-cache read
                    if vhash(run_op(spark, reg, name, sf_dir)[2]) != got:
                        failures.append({"name": name, "pass": passes, "why": "cache read differs from rebuild"})
            except Exception:
                failures.append({"name": name, "pass": passes, "why": traceback.format_exc(limit=3)})
            error_lines[f"{passes}:{name}"] = errlog.take()
            records.append(rec)
            if name in fresh:
                shutil.rmtree(sf_dir)
        if trace:
            infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            storage_mb.append(sum(i.memSize() for i in infos) / 2**20)
        passes += 1

    t_timed = time.time()
    log_cpu = eventlog_cpu_s(spark) - log_cpu0 if trace else 0.0
    rss = {
        "python": vm_hwm_mb(os.getpid()),
        "jvm": vm_hwm_mb(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()),
    }
    spark.stop()

    timed = [r for r in records if "marks" in r]
    walls = [r["wall_s"] for r in timed]
    pass_walls = [sum(r["wall_s"] for r in timed if r["pass"] == p) for p in range(passes)]
    cmp_recs = [r for r in timed if r["name"] in cmp_set and "oracle_s" in r]
    spark_cmp = sum(r["wall_s"] for r in cmp_recs)
    duck_cmp = sum(r["oracle_s"] for r in cmp_recs)
    n_samples = len(walls)
    report = {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "sf": cfg["sf"],
        "passes": passes,
        "operations": ops,
        "fresh_input_operations": sorted(fresh),
        "duckdb_comparable": cmp_set,
        "spark_comparable_s": spark_cmp,
        "duckdb_comparable_s": duck_cmp,
        "op_samples": n_samples,
        "op_p90_ms": (
            statistics.quantiles(walls, n=10)[-1] * 1000 if n_samples >= 100 else None
        ),
        "op_p90_note": "reported only when at least 10 samples lie beyond p90 (>= 100 samples)",
        "result_hashes": ref,
        "peak_rss_mb": rss,
        "timeline_s": {
            "setup": t_setup - cfg["spawn_epoch"],
            "timed_end": t_timed - cfg["spawn_epoch"],
            "stopped": time.time() - cfg["spawn_epoch"],
        },
        "warmup_s": warmup_s,
        "failures": failures,
        "jvm_error_lines": {k: v for k, v in error_lines.items() if v},
    }
    setup = {
        "setup.wall_s": t_setup - cfg["spawn_epoch"],
        "session.start_s": t_session - cfg["spawn_epoch"],
        "registry.load_s": t_registry - t_session,
        "warmup.s": t_setup - t_registry,
    }
    metrics = {
        # CPU seconds, like the pass: wall set-up time is a per-layer metric.
        "setup_s": cpu_setup,
        "pass_cpu_s": statistics.median(
            sum(r["cpu_s"] for r in timed if r["pass"] == p) for p in range(passes)
        ),
        "peak_rss_mb": rss["python"] + rss["jvm"],
    }
    # Wall times and the DuckDB ratio are reported with the layers: on a
    # shared 4-vCPU host, co-tenant load moves them between runs by more
    # than the end-to-end bound allows. CPU seconds move less, but they
    # too rise with co-tenant load.
    report["pass_s"] = statistics.median(pass_walls)
    report["op_p50_ms"] = statistics.median(walls) * 1000 if walls else None
    report["setup_wall_s"] = setup["setup.wall_s"]
    report["duckdb_ratio"] = spark_cmp / duck_cmp if duck_cmp else None
    layers = {}
    if trace:
        from layers import attribute, read_event_log

        jobs, stages = read_event_log(os.path.join(work, "eventlog"))
        spans = attribute(timed, jobs, stages, recorder.events)
        with open(cfg["spans_path"], "w") as fh:
            json.dump(spans, fh)
        layers = per_layer(timed, passes, setup, storage_mb, error_lines)
        # Tracing cost: event-log writing as a share of the passes' CPU.
        layers["trace.overhead_pct"] = 100 * log_cpu / sum(r["cpu_s"] for r in timed)
        for key in ("pass_s", "op_p50_ms", "duckdb_ratio"):
            layers[key] = report[key]
        report["spans_file"] = cfg["spans_path"]
        report["per_op"] = [
            {k: r[k] for k in ("name", "pass", "wall_s", "build_s", "plan_s", "execute_s", "collect_s", "gap_s", "build_jobs")}
            | {"jobs": {p: len(v) for p, v in r["jobs"].items()}}
            for r in timed
        ]
    else:
        report["per_op"] = [{k: r[k] for k in ("name", "pass", "wall_s", "cpu_s", "rows", "build_jobs")} for r in timed]
    failed = {(f["name"], f["pass"]) for f in failures}
    attempted = len(records)
    report["failed_ops_ratio"] = len(failed) / attempted
    layers["failed_ops_ratio"] = report["failed_ops_ratio"]
    return {
        "report": report,
        "metrics": metrics,
        "layers": layers,
        "attempted": attempted,
        "failed": len(failed),
    }


def per_layer(timed, passes, setup, storage_mb, error_lines) -> dict:
    """Per-pass layer metrics from the attributed op records."""
    def per_pass(values) -> float:
        return sum(values) / passes

    out = dict(setup)
    out["build.s"] = per_pass(r["build_s"] for r in timed)
    out["build.jobs"] = per_pass(len(r["jobs"]["build"]) for r in timed)
    out["plan.s"] = per_pass(r["plan_s"] for r in timed)
    out["plan.jobs"] = per_pass(len(r["jobs"]["plan"]) for r in timed)
    out["execute.s"] = per_pass(r["execute_s"] for r in timed)
    out["execute.jobs"] = per_pass(len(r["jobs"]["run"]) for r in timed)
    out["execute.stages"] = per_pass(r["stages_run"] for r in timed)
    out["execute.tasks"] = per_pass(r["tasks_run"] for r in timed)
    out["collect.s"] = per_pass(r["collect_s"] for r in timed)
    out["span.gap_s"] = per_pass(r["gap_s"] for r in timed)
    out["sched.idle_share"] = sum(r["idle_s"] for r in timed) / sum(r["wall_s"] for r in timed)
    out["task.run_s"] = per_pass(r["task"].get("run_ms", 0) / 1e3 for r in timed)
    out["task.cpu_s"] = per_pass(r["task"].get("cpu_ns", 0) / 1e9 for r in timed)
    out["task.gc_s"] = per_pass(r["task"].get("gc_ms", 0) / 1e3 for r in timed)
    out["shuffle.read_mb"] = per_pass(r["task"].get("shuffle_read", 0) / 2**20 for r in timed)
    out["shuffle.write_mb"] = per_pass(r["task"].get("shuffle_write", 0) / 2**20 for r in timed)
    out["spill.mb"] = per_pass(r["task"].get("spill", 0) / 2**20 for r in timed)
    out["storage.mem_mb"] = storage_mb[-1]
    out["llm.index_build_jobs"] = per_pass(r["build_jobs"] for r in timed if r["name"] in INDEX_CONSUMERS)
    prog = [e for r in timed for e in r["progress"]]
    out["streaming.batches"] = per_pass(1 for _ in prog)
    out["streaming.input_rows"] = per_pass(e["input_rows"] for e in prog)
    for metric, key in (
        ("trigger_ms", "triggerExecution"), ("add_batch_ms", "addBatch"),
        ("query_planning_ms", "queryPlanning"), ("latest_offset_ms", "latestOffset"),
        ("wal_commit_ms", "walCommit"), ("commit_offsets_ms", "commitOffsets"),
    ):
        out[f"streaming.{metric}"] = per_pass(e["duration_ms"].get(key, 0) for e in prog)
    last_by_run: dict[str, dict] = {}
    for e in sorted(prog, key=lambda e: e["start"]):
        last_by_run[e["run_id"]] = e
    out["streaming.state_rows"] = per_pass(e["state_rows"] for e in last_by_run.values())
    out["streaming.state_mem_mb"] = per_pass(e["state_mem"] / 2**20 for e in last_by_run.values())
    out["oracle.s"] = per_pass(r.get("oracle_s", 0.0) for r in timed)
    for mod in MODULES:
        mine = [r for r in timed if r["module"] == mod]
        out[f"{mod}.s"] = per_pass(r["wall_s"] for r in mine)
        out[f"{mod}.jobs"] = per_pass(len(r["jobs"][p]) for r in mine for p in r["jobs"])
    out["jvm.error_lines"] = sum(error_lines.values())
    return out


if __name__ == "__main__":
    with open(sys.argv[1]) as fh:
        config = json.load(fh)
    result = main(config)
    with open(config["result_path"], "w") as fh:
        json.dump(result, fh)
