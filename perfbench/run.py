"""Benchmark for dabstract_spark: one workload per invocation.

    python3 perfbench/run.py --workload {features,curation}
        --seed N --seconds S --trace {0,1} [--size {full,tiny}]

Run from the repository root. The run generates its inputs from the seed
into a per-run directory under ``.perfbench/`` (removed at exit), starts
one local Spark session pinned to this process's CPU affinity, and drives
the workload as a closed loop with one client: the next pass, action or
micro-batch starts only after the previous one completed. After one cold
pass (``first_s``) it runs a fixed number of steady passes: ``--seconds``
divided by the workload's nominal pass time on a 4-core host, rounded (at
least one). The count does not depend on how fast this run goes, so every
run of a workload measures the same work and a slow host shows as a slower
median, not as fewer samples. It reports the median pass throughput and
the operation latency over them (``latency_p50``). After the measured
window it checks every kept output against an independent reference
(DuckDB or NumPy) outside the timed region.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, measured untraced; with ``--trace 1``
they are the per-layer ones from a traced run (spans written to
``.perfbench/spans-<workload>-<seed>.json``). The line before it is a
JSON record of settings, inputs and secondary figures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

END_TO_END = {
    "setup_s": "s",
    "first_s": "s",
    "items_per_s": "1/s",
    "latency_ms_p50": "ms",
    "write_amp": "ratio",
}

PER_LAYER = {
    "peak_rss_mb": "MB",
    "session.start_ms": "ms",
    "session.worker_warm_ms": "ms",
    "sources.scan_ms": "ms",
    "sources.decode_ms": "ms",
    "sources.files": "count",
    "sources.bytes_read": "bytes",
    "processing.build_ms": "ms",
    "processing.feat_ms": "ms",
    "processing.fit_ms": "ms",
    "dataset.prepare_feat_ms": "ms",
    "dataset.feat_bytes": "bytes",
    "dataset.xval_ms": "ms",
    "dataset.split_ms": "ms",
    "dataset.action_build_ms": "ms",
    "dataset.action_exec_ms": "ms",
    "core.row_id_ms": "ms",
    "text.gate_ms": "ms",
    "text.keep_ratio": "ratio",
    "dedup.exact_ms": "ms",
    "dedup.exact_removed": "count",
    "dedup.minhash_ms": "ms",
    "dedup.clusters": "count",
    "dedup.neardup_removed": "count",
    "dedup.decontam_ms": "ms",
    "dedup.decontam_removed": "count",
    "select.order_ms": "ms",
    "packing.pack_ms": "ms",
    "packing.fill_ratio": "ratio",
    "streaming.drain_ms": "ms",
    "streaming.batch_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.plan_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    "streaming.sink_files": "count",
    "streaming.sink_bytes": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "driver.py4j_calls": "count",
    "trace.overhead_ms": "ms",
}


def pin_environment(rundir: str) -> dict:
    """Resource pinning: Spark sees exactly this process's CPUs, a driver
    heap that fits the machine, and one scratch directory per run for
    every spill, checkpoint, relayout and feature file."""
    cpus = len(os.sched_getaffinity(0))
    try:
        total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (ValueError, OSError):
        total_mb = 8192
    mem_mb = max(1024, min(4096, total_mb // 4))
    scratch = os.path.join(rundir, "scratch")
    tmp = os.path.join(rundir, "tmp")
    for d in (scratch, tmp):
        os.makedirs(d, exist_ok=True)
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_GRAFT_SCRATCH": scratch,
        "SPARK_LOCAL_DIRS": scratch,
        "SPARK_GRAFT_FEAT_DIR": os.path.join(rundir, "feat"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(settings)
    tempfile.tempdir = tmp
    return dict(settings, machine_mem_mb=total_mb)


def vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Session:
    """Owns the Spark session of a run: a cold start (JVM launch, session,
    Python worker pool) and a shutdown that waits for the JVM and its
    Python workers to exit."""

    def __init__(self):
        self.spark = None
        self.start_s = 0.0
        self.warm_s = 0.0

    def start(self):
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        from dabstract_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()

        @pandas_udf("double")
        def _ident(s):
            return s

        # one task per core, so every core's Python worker starts here
        n = self.spark.sparkContext.defaultParallelism
        self.spark.range(n * 64, numPartitions=n).select(
            _ident(F.col("id").cast("double"))
        ).write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        self.start_s, self.warm_s = t1 - t0, t2 - t1
        return self.spark

    def jvm_pid(self):
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def shutdown(self):
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        finally:
            if proc is not None:
                # the JVM exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()


def run_pass(w, spark, i, failures):
    """One closed-loop pass. A failing pass is reported and counted."""
    t0 = time.perf_counter()
    try:
        items, lat = w.run_pass(spark, i)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        failures.append(i)
        items, lat = 0, []
    return items, lat, time.perf_counter() - t0


def latency_p50(samples) -> float:
    """Median operation latency of an operation mix: each kind's median
    over the run, combined over kinds by geometric mean (with one kind,
    its median). Pooling the samples of kinds whose latencies differ
    several-fold would put the median in the gap between two kinds, where
    it follows their extremes and a handful of samples."""
    by_kind: dict[str, list[float]] = {}
    for kind, ms in samples:
        by_kind.setdefault(kind, []).append(ms)
    if not by_kind:
        return 0.0
    return statistics.geometric_mean(statistics.median(v) for v in by_kind.values())


def measure(args, w, sess, tracer) -> tuple[dict, dict, int, int]:
    spark = sess.start()
    tracer.attach(spark)
    w.on_session(spark)

    failures: list[int] = []
    tracer.enabled = False
    items, lat, first = run_pass(w, spark, 0, failures)

    rates, latencies = [], []
    traced_walls, untraced_walls = [], []
    py4j_traced = 0
    steady = max(1, round(args.seconds / w.PASS_S))
    if args.trace:
        # passes alternate untraced/traced; a traced run needs a traced one
        steady = max(2, steady)
    for i in range(1, steady + 1):
        traced = bool(args.trace) and i % 2 == 0
        tracer.enabled = traced
        calls0 = tracer.py4j.n
        items, lat, wall = run_pass(w, spark, i, failures)
        tracer.enabled = False
        if traced:
            py4j_traced += tracer.py4j.n - calls0
            traced_walls.append(wall)
            tracer.enabled = True
            w.layer_counts(spark)
            tracer.enabled = False
        else:
            untraced_walls.append(wall)
            rates.append(items / wall)
            latencies.extend(lat)

    ops = (1 + steady) * w.OPS_PER_PASS
    t_check = time.perf_counter()
    try:
        checked, wrong = w.check(spark)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        checked, wrong = 0, ops
    if checked == 0:
        wrong = max(wrong, 1)
    failed = min(ops, len(failures) * w.OPS_PER_PASS + wrong)
    check_s = time.perf_counter() - t_check

    pid = sess.jvm_pid()
    rss_mb = (vm_hwm_kb("self") + (vm_hwm_kb(pid) if pid else 0)) / 1024.0
    # bytes written per input byte and pass
    write_amp = w.written_bytes / (w.input_bytes * (1 + steady))
    # no p95: a run holds far fewer than the 200 samples that would put
    # ten beyond it
    detail = {
        "steady_passes": len(untraced_walls),
        "steady_pass_s": untraced_walls,
        "latencies_ms": latencies,
        "write_amp": write_amp,
        "fail_ratio": failed / max(ops, 1),
        "peak_rss_mb": rss_mb,
        "steady_s": sum(untraced_walls),
        "check_s": check_s,
    }
    if not args.trace:
        metrics = {
            "setup_s": sess.start_s + sess.warm_s,
            "first_s": first,
            "items_per_s": statistics.median(rates),
            "latency_ms_p50": latency_p50(latencies),
            "write_amp": write_amp,
        }
        return metrics, detail, ops, failed

    tracer.collect_job_stats()
    n = max(len(traced_walls), 1)
    per_layer = {k: 0.0 for k in PER_LAYER}
    for name, ms in tracer.self_ms_by_name().items():
        per_layer[f"{name}_ms"] = ms / n
    for name, v in tracer.counts.items():
        per_layer[name] = v / n
    per_layer.update(
        {
            "peak_rss_mb": rss_mb,
            "session.start_ms": sess.start_s * 1000.0,
            "session.worker_warm_ms": sess.warm_s * 1000.0,
            "spark.jobs": tracer.totals("jobs") / n,
            "spark.stages": tracer.totals("stages") / n,
            "spark.tasks": tracer.totals("tasks") / n,
            "spark.failed_tasks": tracer.totals("failed_tasks") / n,
            "driver.py4j_calls": py4j_traced / n,
            "trace.overhead_ms": (
                statistics.median(traced_walls) - statistics.median(untraced_walls or traced_walls)
            ) * 1000.0,
        }
    )
    unknown = set(per_layer) - set(PER_LAYER)
    if unknown:
        raise RuntimeError(f"spans without a declared metric: {sorted(unknown)}")
    detail["traced_passes"] = len(traced_walls)
    return per_layer, detail, ops, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    sys.path.insert(0, str(ROOT))
    try:
        import dabstract_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    from dabstract_spark import session
    from perfbench.trace import Tracer
    from perfbench.workloads import SIZES, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    out_dir = ROOT / ".perfbench"
    out_dir.mkdir(exist_ok=True)
    rundir = tempfile.mkdtemp(prefix="run-", dir=out_dir)
    sess = Session()
    tracer = Tracer(active=bool(args.trace), run_id=os.path.basename(rundir))
    try:
        settings = pin_environment(rundir)
        w = WORKLOADS[args.workload](
            os.path.join(rundir, "inputs"), args.seed, SIZES[args.size], tracer
        )
        os.makedirs(w.workdir)
        t_gen = time.perf_counter()
        inputs = w.generate()
        gen_s = time.perf_counter() - t_gen
        inputs["vs_cache_budget"] = w.input_bytes / session._CACHE_MAX_BYTES
        metrics, detail, attempted, failed = measure(args, w, sess, tracer)
        if args.trace:
            tracer.dump(str(out_dir / f"spans-{args.workload}-{args.seed}.json"))
    finally:
        tracer.close()
        t_stop = time.perf_counter()
        sess.shutdown()
        shutil.rmtree(rundir, ignore_errors=True)
        stop_s = time.perf_counter() - t_stop

    units = END_TO_END if not args.trace else PER_LAYER
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "settings": {k: v for k, v in settings.items() if not k.startswith("JAVA")},
        "inputs": inputs,
        **detail,
        "gen_s": gen_s,
        "shutdown_s": stop_s,
        "run_wall_s": time.perf_counter() - t_start,
    }
    print(json.dumps(record, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
