"""Benchmark driver: one workload, one seed, a closed loop with one client.

    python3 perfbench/run.py --workload gridmet_conus_week --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The process starts one Spark session
(``local[<cores>]``), generates and lands the seeded inputs, makes
WARMUP_RUNS untimed warm-up runs, then runs the workload back to back for
``--seconds`` seconds, checking every run's committed output against the
numpy oracle.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0`` (E2E_UNITS), the per-layer metrics with ``--trace 1``
(workloads.LAYER_METRICS). The line before it is a summary: every sample,
the median wall time of a run and the cells it consumed per second, the
process CPU seconds, load averages and the input sizes.

With ``--trace 1`` untraced and traced runs alternate (the difference of
their medians is the tracing overhead), and the spans are written at exit
to ``.perfbench_work/traces/<workload>-seed<seed>.json``. All files the
run writes stay under ``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import oracle  # noqa: E402 - needs HERE on sys.path
from spans import Tracer, stage_totals  # noqa: E402

SETUP_REPEATS = 3  # input generation + landing repeats; setup_s takes the median
WARMUP_RUNS = 3  # untimed: the first is cold, the next two still much slower
MIN_RUNS = 3

E2E_UNITS = {
    "task_cpu_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "bytes_out_per_row": "B/row",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> float:
    return os.getloadavg()[0]


def reset_peak_rss(pid: int) -> None:
    """Reset the kernel's peak-RSS mark (VmHWM) of ``pid``."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def cpu_s(pid: int) -> float:
    """CPU seconds (user + system) that process ``pid`` has used so far."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0

    def start_session(self):
        from gridmet_etl_spark.session import get_spark

        os.makedirs(os.environ["TMPDIR"], exist_ok=True)
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            master=f"local[{cores()}]",
            shuffle_partitions=cores(),
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        self.get_spark_s = time.perf_counter() - t0
        self.spark = spark
        self.jvm = spark.sparkContext._gateway.proc
        return spark

    def stop_session(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        SparkContext._gateway.shutdown()
        self.jvm.stdin.close()
        self.jvm.wait(timeout=60)

    def attempt(self, name: str) -> tuple[dict, str | None]:
        """One run into a fresh output directory, then the output check.
        Returns the run's wall seconds, CPU seconds of the JVM and driver
        processes, and CPU seconds of its Spark tasks, with the output
        path, which is None when the run raised or failed the check."""
        out_dir = self.fresh(name)
        self.attempted += 1
        self.spark.sparkContext.setJobGroup(name, name)
        c0 = cpu_s(self.jvm.pid) + time.process_time()
        t0 = time.perf_counter()
        path = None
        try:
            path = self.wl.run(out_dir)
        except Exception:  # noqa: BLE001 - a failed run is counted, not fatal
            traceback.print_exc()
        cost = {
            "wall": time.perf_counter() - t0,
            "cpu": cpu_s(self.jvm.pid) + time.process_time() - c0,
            "task_cpu": stage_totals(self.spark, name)["executorCpuTime"] / 1e9,
        }
        try:
            errors = self.wl.check(path) if path else ["run raised"]
        except Exception:  # noqa: BLE001 - an unreadable output is a failed run
            traceback.print_exc()
            errors = ["output unreadable"]
        if errors:
            self.failed += 1
            print(f"{self.wl.name}: output check failed: {errors[:5]}", file=sys.stderr)
            return cost, None
        return cost, path

    def fresh(self, name: str) -> str:
        """A new, empty output directory, with Spark's cached blocks cleared
        and a JVM garbage collection so that runs do not inherit state."""
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()
        d = os.path.join(self.work, name)
        shutil.rmtree(d, ignore_errors=True)
        return d

    def setup(self, wl_cls) -> float:
        """Session start (already done), input generation and landing
        (SETUP_REPEATS times, median kept) and the warm-up runs."""
        self.wl = wl_cls(self.spark, self.args.seed)
        self.land_s = []
        for k in range(SETUP_REPEATS):
            root = os.path.join(self.work, f"inputs{k}")
            t0 = time.perf_counter()
            self.wl.land(root)
            self.land_s.append(time.perf_counter() - t0)
        for k in range(SETUP_REPEATS - 1):
            shutil.rmtree(os.path.join(self.work, f"inputs{k}"), ignore_errors=True)
        self.warmup_s = [self.attempt(f"warmup{k}")[0]["wall"] for k in range(WARMUP_RUNS)]
        return self.get_spark_s + statistics.median(self.land_s) + sum(self.warmup_s)

    def timed_loop(self, seconds: float) -> dict[str, list[float]]:
        """Back-to-back runs until ``seconds`` have passed (at least
        MIN_RUNS). Returns, for the runs that passed the check, the costs
        ``attempt`` measures, the JVM's peak RSS in MB during each run and
        the parquet bytes per output row of each."""
        samples: dict[str, list[float]] = {
            k: [] for k in ("wall", "cpu", "task_cpu", "rss", "per_row")}
        deadline = time.perf_counter() + seconds
        n = 0
        while n < MIN_RUNS or time.perf_counter() < deadline:
            reset_peak_rss(self.jvm.pid)
            cost, path = self.attempt(f"run{n}")
            if path:
                for k, v in cost.items():
                    samples[k].append(v)
                samples["rss"].append(peak_rss_mb(self.jvm.pid))
                samples["per_row"].append(
                    oracle.parquet_bytes(path) / max(oracle.parquet_rows(path), 1))
            n += 1
        return samples

    def traced(self, tracer: Tracer, k: int) -> dict:
        """One traced run and its layer spans, checked like a timed run.
        Returns the layer metrics, empty when the run failed."""
        scratch = self.fresh(f"trace{k}")
        self.attempted += 1
        try:
            m, out = self.wl.trace(tracer, k, scratch)
            errors = self.wl.check(out)
        except Exception:  # noqa: BLE001 - a failed run is counted, not fatal
            traceback.print_exc()
            m, errors = {}, ["traced run raised"]
        if errors:
            self.failed += 1
            print(f"{self.wl.name}: traced output check failed: {errors[:5]}", file=sys.stderr)
            return {}
        return m

    def traced_loop(self, tracer: Tracer, seconds: float) -> tuple[dict, list[float]]:
        """One traced run that warms the layer plans and is not kept, then
        untraced and traced runs in turn until ``seconds`` have passed (at
        least two of each). Returns the median of each layer metric, with
        0 for layers the workload does not run, and the untraced run times."""
        from workloads import LAYER_METRICS

        self.traced(tracer, 0)
        samples: dict[str, list[float]] = {}
        times: list[float] = []
        deadline = time.perf_counter() + seconds
        k = 1
        while k <= 2 or time.perf_counter() < deadline:
            cost, path = self.attempt(f"run{k}")
            if path:
                times.append(cost["wall"])
            for name, v in self.traced(tracer, k).items():
                samples.setdefault(name, []).append(float(v))
            k += 1
        layers = dict.fromkeys(LAYER_METRICS, 0.0)
        layers.update({n: statistics.median(v) for n, v in samples.items()})
        layers["session.get_spark_s"] = self.get_spark_s
        if times and "trace.run_s" in samples:
            layers["trace.untraced_run_s"] = statistics.median(times)
            layers["trace.overhead_s"] = layers["trace.run_s"] - layers["trace.untraced_run_s"]
        return layers, times


def main(argv=None) -> int:
    args = parse_args(argv)
    # the program under test must come from this checkout
    import gridmet_etl_spark  # noqa: F401

    from workloads import LAYER_METRICS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"]
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM the session starts keeps its temporary files in the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [HERE, ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    load_start = loadavg()
    bench = Bench(args, work)
    spark = bench.start_session()
    try:
        setup_s = bench.setup(WORKLOADS[args.workload])
        if args.trace:
            tracer = Tracer(spark)
            layers, times = bench.traced_loop(tracer, args.seconds)
            samples = {"wall": times}
        else:
            samples = bench.timed_loop(args.seconds)
    finally:
        load_end = loadavg()
        bench.stop_session()

    wall = samples["wall"]
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "runs": len(wall),
        "run_s": statistics.median(wall) if wall else None,
        "cells_per_s": bench.wl.cells_per_run / statistics.median(wall) if wall else None,
        "samples": samples,
        "setup_land_s": bench.land_s,
        "warmup_s": bench.warmup_s,
        "get_spark_s": bench.get_spark_s,
        "failed_frac": bench.failed / max(bench.attempted, 1),
        "loadavg_1m_start": load_start,
        "loadavg_1m_end": load_end,
        "cores": cores(),
        "inputs": bench.wl.sizes(),
    }
    if args.trace:
        traces = os.path.join(base, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"),
                    {**summary, "layers": layers})
    shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = {n: {"value": layers[n], "unit": u} for n, u in LAYER_METRICS.items()}
    else:
        med = {k: statistics.median(v) if v else 0.0 for k, v in samples.items()}
        e2e = {
            "task_cpu_s": med["task_cpu"],
            "setup_s": setup_s,
            "peak_rss_mb": med["rss"],
            "bytes_out_per_row": med["per_row"],
        }
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in E2E_UNITS.items()}
    print(json.dumps({"summary": summary}))
    print(json.dumps({
        "correct": bench.failed == 0 and bool(wall),
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
