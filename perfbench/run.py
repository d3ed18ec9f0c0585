"""crawspark benchmark: one closed loop, one Spark action at a time.

Usage (from the repository root):

    python3 perfbench/run.py --workload extract_web --seed 1 --seconds 10 --trace 0

Builds the seeded inputs, starts Spark on ``local[nproc]``, warms up,
then runs the workload's timed operation until ``--seconds`` have passed
(and at least the workload's minimum number of times), checking every
output outside the timed region. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it records the machine, the library versions and the inputs.

Everything is written under ``.perfbench_work/`` in the repository root,
which is removed at exit. See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
INPUT_BUILDS = 3
DRIVER_MEM = "3g"


def _env(nproc: int) -> None:
    """Keep every file Spark, the JVM and Python write inside WORK."""
    tmp = WORK / "tmp"
    local = WORK / "local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    # A JIT compiler thread that exits takes its CPU count with it; kept
    # alive for the whole run, its CPU can be left out of the op CPU.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads")
    os.environ.setdefault("CRAWSPARK_DRIVER_MEM", DRIVER_MEM)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={WORK / 'warehouse'} "
        "pyspark-shell")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)


def _source_digest() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "crawspark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _machine(nproc: int) -> dict:
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": nproc, "mem_total_mb": mem_kb // 1024,
            "pyspark": pyspark.__version__,
            "python": sys.version.split()[0],
            "source_sha256_16": _source_digest(),
            "driver_mem": os.environ["CRAWSPARK_DRIVER_MEM"]}


def _stop_spark(spark) -> None:
    """Stop Spark, its JVM and any Python worker left behind, and wait."""
    from pyspark import SparkContext

    from stores import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin and not proc.stdin.closed:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.time() + 10
    while descendants(os.getpid()) and time.time() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def _checked(check, *args) -> bool:
    """An output check; one that raises counts as failed."""
    try:
        return check(*args)
    except Exception:
        traceback.print_exc()
        return False


def _median_by_key(samples: list[dict]) -> dict:
    return {k: statistics.median(s[k] for s in samples) for k in samples[0]}


def measure(workload_cls, seed: int, seconds: float, trace: bool) -> dict:
    from replay import replay
    from stores import WorkerRss, tree_cpu_s

    nproc = len(os.sched_getaffinity(0))
    bench = workload_cls(seed, str(WORK), n_files=2 * nproc)
    attempted = failed = 0

    def tally(oks: list[bool]) -> None:
        nonlocal attempted, failed
        attempted += len(oks)
        failed += sum(not ok for ok in oks)

    me = os.getpid()
    builds, build_cpus = [], []
    for _ in range(INPUT_BUILDS):
        t0, cpu0 = time.perf_counter(), tree_cpu_s(me)
        bench.build_inputs()
        builds.append(time.perf_counter() - t0)
        build_cpus.append(tree_cpu_s(me) - cpu0)
    inputs_s = statistics.median(builds)

    from crawspark.bundle import ensure_shipped
    from crawspark.session import get_spark

    spark = None
    rss = WorkerRss().start()
    try:
        t0, cpu0 = time.perf_counter(), tree_cpu_s(me)
        spark = get_spark(master=f"local[{nproc}]", app="perfbench",
                          shuffle_partitions=nproc)
        ensure_shipped(spark)
        sc = spark.sparkContext
        spark_start_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        tally(bench.prepare(spark))
        prepare_s = time.perf_counter() - t0
        setup_cpu_s = statistics.median(build_cpus) + tree_cpu_s(me) - cpu0

        untraced: list[float] = []
        untraced_cpu: list[float] = []
        traced: list[float] = []
        layer_samples: list[dict] = []
        oracle_doc_ms = 0.0
        if trace:
            rep = replay(bench.replay_docs)
            tally([rep["mismatches"] == 0])
            oracle = rep["metrics"]
            oracle_doc_ms = oracle["oracle.doc_ms"]
        window = time.perf_counter()
        k = 0
        while k < bench.min_ops or time.perf_counter() - window < seconds:
            group = f"perfbench-op-{k}" if trace and k % 2 else None
            bench.before_op()
            if group:
                sc.setJobGroup(group, "perfbench timed op")
            cpu0 = tree_cpu_s(me, jit=False)
            t0 = time.perf_counter()
            try:
                info = bench.op(spark, group)
            except Exception:  # counted as failed; the loop goes on
                traceback.print_exc()
                info = None
            wall = time.perf_counter() - t0
            cpu = tree_cpu_s(me, jit=False) - cpu0
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            tally([info is not None])
            if info is not None:
                tally([_checked(bench.check, spark, info)])
                if group:
                    traced.append(wall)
                    layer_samples.append(
                        bench.layers(spark, group, wall, info, oracle_doc_ms))
                else:
                    untraced.append(wall)
                    untraced_cpu.append(cpu)
                last_info = info
            k += 1
        tally(bench.final_checks(spark))
    finally:
        worker_rss_mb = rss.stop()
        if spark is not None:
            _stop_spark(spark)

    print(json.dumps({"machine": _machine(nproc), "workload": bench.name,
                      "seed": seed, "inputs": bench.info(),
                      "op_seconds": untraced, "op_cpu_seconds": untraced_cpu,
                      "traced_op_seconds": traced}))
    if not untraced:
        raise SystemExit("no operation succeeded")
    run_s = statistics.median(untraced)
    op_cpu_s = statistics.median(untraced_cpu)
    if trace:
        metrics = dict(oracle)
        if layer_samples:
            metrics.update(_median_by_key(layer_samples))
        traced_s = statistics.median(traced) if traced else 0.0
        metrics.update({
            "bench.untraced_run_s": run_s,
            "bench.docs_per_s": last_info["docs"] / run_s,
            "bench.op_cpu_s": op_cpu_s,
            "bench.traced_run_s": traced_s,
            "bench.trace_overhead_s": traced_s - run_s,
            "bench.run_max_s": max(untraced),
            "bench.ops": len(untraced) + len(traced),
            "bench.fail_ratio": failed / max(attempted, 1),
            "setup.inputs_s": inputs_s,
            "setup.spark_start_s": spark_start_s,
            "setup.prepare_s": prepare_s,
            "setup.wall_s": inputs_s + spark_start_s + prepare_s,
        })
    else:
        metrics = {
            "setup_s": setup_cpu_s,
            "docs_per_cpu_s": last_info["docs"] / op_cpu_s,
            "worker_rss_peak_mb": worker_rss_mb,
        }
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "crawspark" / "__init__.py").is_file():
        sys.exit(f"perfbench: no crawspark package under {ROOT}")
    shutil.rmtree(WORK, ignore_errors=True)
    _env(len(os.sched_getaffinity(0)))
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; "
                 f"choose from {sorted(WORKLOADS)}")
    try:
        result = measure(WORKLOADS[args.workload], args.seed, args.seconds,
                         bool(args.trace))
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = spec["per_layer" if args.trace else "end_to_end"]
    got = result["metrics"]
    if set(got) != {m["name"] for m in declared}:
        sys.exit("perfbench: metrics differ from BENCHMARK.json: "
                 f"{sorted(set(got) ^ {m['name'] for m in declared})}")
    result["metrics"] = {m["name"]: {"value": float(got[m["name"]]),
                                     "unit": m["unit"]} for m in declared}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
