#!/usr/bin/env python3
"""Benchmark of univer_ocr_spark's extraction and dedup paths.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One process is one run of one workload on
one fresh ``local[N]`` session, N half the machine's cores. A run sets the
session up three times (a cold start, then two restarts in the same JVM),
prepares the seeded input (cached under ``perfbench/.work/cache``), repeats
untimed warm-up iterations (at least 3, for at least 8 s), then runs the
closed loop for ``--seconds`` and checks every iteration's output outside
the timed region.

An iteration's cost is the CPU time (user + system) of this process, the
driver JVM and its Python workers, the cost a batch job pays for on a
cluster; its wall time follows the host's load far more closely (on a
shared 4-vCPU VM, +50 % in a busy phase against +15 % for CPU time) and is
reported per layer.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``--trace 1`` also runs the loop a second time in a session with a Spark
event log, with spans and job groups around every public-layer call, makes
the workload's extra per-layer calls, and reports the per-layer metrics;
the spans are written to ``perfbench/.work/trace/``. The next-to-last
stdout line is a detailed report (quartiles, sample counts, input sizes,
host load); the last line is the result object.
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
from pathlib import Path

from tracing import Tracer, host_steal_s, tree_cpu_s

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORK = BENCH_DIR / ".work"
SETUPS = 3  # session set-ups per run; setup_s is their median
# untimed iterations before the measured loop: at least WARMUP_MIN and at
# least WARMUP_S seconds of them (a new session's first iterations cost more
# CPU while the JVM compiles and the Python workers start)
WARMUP_MIN, WARMUP_S = 3, 8.0
ITER_TIMEOUT_S = 60.0  # an iteration slower than this counts as failed
RUN_DEADLINE_S = 150.0  # stop starting iterations after this much run time


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def spark_conf(tmp: Path, event_log: Path | None) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # -Xms: the heap is committed from the start, so peak RSS is not left
        # to the collector's growth decisions, which follow the host's load;
        # no hsperfdata files under /tmp
        "spark.driver.extraJavaOptions": f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # small parquet row groups + 1 MB splits: the transcript scan spreads
        # over every core without a shuffle
        "spark.sql.files.maxPartitionBytes": str(1 << 20),
        # a 2 GB heap holds every input here (the default is 8 GB)
        "spark.driver.memory": "2g",
    }
    if event_log:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log.as_uri(),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return conf


def setup(cores: int, conf: dict, tracer: Tracer):
    """get_spark (session + package ship) and the first Python/JVM job.
    Returns (spark, get_spark seconds, warm-up seconds)."""
    from pyspark.sql import functions as F

    from univer_ocr_spark.spark.pipeline import run_extraction
    from univer_ocr_spark.spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{cores}]", app_name="perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    payload = "<html><body><p>warm up</p></body></html>"
    df = spark.range(0, cores, 1, cores).select(F.lit(payload).alias("text"))
    tracer.spark = spark
    with tracer.span("session.warmup", group="session"):
        run_extraction(df).agg(F.sum("n_chars")).collect()
    return spark, t1 - t0, time.perf_counter() - t1


def shutdown(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for every process
    this run started to end."""
    from pyspark import SparkContext

    from tracing import descendants

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — a JVM that ignores EOF is killed
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while descendants() and time.time() < deadline:
        time.sleep(0.2)


class Loop:
    """Closed loop of one client: warm up, then measure, checking every
    iteration."""

    def __init__(self, wl, tracer, deadline: float):
        self.wl, self.tracer, self.deadline = wl, tracer, deadline
        self.attempted = self.failed = 0
        self.cpu: list[float] = []  # CPU seconds of each successful iteration
        self.steal: list[float] = []

    def once(self) -> float | None:
        self.attempted += 1
        try:
            c0, s0 = tree_cpu_s(), host_steal_s()
            t0 = time.perf_counter()
            result = self.wl.iteration(self.tracer)
            dt = time.perf_counter() - t0
            cpu, steal = tree_cpu_s() - c0, host_steal_s() - s0
        except Exception:  # noqa: BLE001 — a failed iteration is counted, not fatal
            log(traceback.format_exc())
            self.failed += 1
            return None
        if dt > ITER_TIMEOUT_S or not self.wl.check(result):
            log(f"{self.wl.name}: iteration failed its check or timed out ({dt:.2f}s)")
            self.failed += 1
            return None
        self.last = (cpu, steal)
        return dt

    def warm_up(self) -> list[float]:
        seen: list[float] = []
        t0 = time.perf_counter()
        while (len(seen) < WARMUP_MIN or time.perf_counter() - t0 < WARMUP_S) \
                and time.time() < self.deadline:
            dt = self.once()
            if dt is not None:
                seen.append(dt)
        return seen

    def measure(self, seconds: float) -> list[float]:
        walls: list[float] = []
        t0 = time.perf_counter()
        while (self.attempted == 0 or time.perf_counter() - t0 < seconds) \
                and (not walls or time.time() < self.deadline):
            dt = self.once()
            if dt is not None:
                walls.append(dt)
                self.cpu.append(self.last[0])
                self.steal.append(self.last[1])
        return walls


def quartiles(xs: list[float]) -> dict:
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3
    return {"median": statistics.median(xs), "q1": q[0], "q3": q[2], "n": len(xs), "samples": xs}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    run_dir = WORK / f"run-{os.getpid()}"
    tmp = WORK / "tmp"
    for d in (run_dir, tmp):
        d.mkdir(parents=True, exist_ok=True)
    # keep every temporary file of the run (Python, JVM, Spark) in the checkout
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path.insert(0, str(ROOT))
    import univer_ocr_spark  # noqa: F401 — fail before any work without the package

    from tracing import SPARK_LAYERS, COUNTERS, RssSampler, event_log_counters
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    started = time.time()
    deadline = started + RUN_DEADLINE_S
    # half the cores run tasks; the rest keep the driver JVM's own threads
    # (GC, JIT, Arrow I/O) and this process from competing with the tasks,
    # which on a full machine inflated an iteration's CPU time by ~40 %
    cores = max(1, (os.cpu_count() or 1) // 2)
    # a traced run splits --seconds between an untraced and a traced loop
    loop_s = args.seconds / 2 if args.trace else args.seconds
    load_start = os.getloadavg()

    spark = None
    try:
        setups = []
        wl = info = None
        prepare_s = 0.0
        untraced = Tracer()
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark, get_s, warm_s = setup(cores, spark_conf(tmp, None), untraced)
            setups.append((get_s, warm_s))
            if wl is None:
                # inputs are generated in the first session; the later set-ups
                # give the measured loop a session that has not run them
                wl = WORKLOADS[args.workload](spark, args.seed, cores, run_dir)
                t0 = time.perf_counter()
                info = wl.prepare()
                prepare_s = time.perf_counter() - t0
            wl.spark = spark
        loop = Loop(wl, untraced, deadline)
        warm = loop.warm_up()
        with RssSampler() as rss:
            walls = loop.measure(loop_s)
        run_ok = wl.check_run(untraced)
        if not walls:
            raise RuntimeError("no iteration succeeded")
        wall = statistics.median(walls)
        setup_s = statistics.median(g + w for g, w in setups)
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cores": cores, "input": info, "rows": wl.rows, "prepare_s": prepare_s,
            "setup_s": {"get_spark": [g for g, _ in setups], "warmup": [w for _, w in setups]},
            "warmup_s": warm, "wall_s": quartiles(walls), "peak_rss_mb": rss.peak_mb,
            "cpu_s": quartiles(loop.cpu), "steal_s": quartiles(loop.steal),
        }
        cpu = statistics.median(loop.cpu)
        metrics = {"setup_s": setup_s, "cpu_ms_per_row": 1000 * cpu / wl.rows,
                   "peak_rss_mb": rss.peak_mb}
        # wall time moves with the host's load far more than CPU time does,
        # so it is a per-layer metric, without a bound
        loop_layer = {"loop.wall_s": wall, "loop.rows_per_s": wl.rows / wall,
                      "loop.cpu_s": cpu, "loop.cpu_util": cpu / (wall * cores),
                      "loop.steal_s": statistics.median(loop.steal)}

        if args.trace:
            spark.stop()
            tracer = Tracer(enabled=True)
            spark, _, _ = setup(cores, spark_conf(tmp, run_dir / "eventlog"), tracer)
            wl.spark = spark
            loop2 = Loop(wl, tracer, deadline)
            loop2.once()  # the JIT is warm: one iteration re-spawns the workers
            traced_walls = loop2.measure(loop_s)
            traced_wall = statistics.median(traced_walls)
            layer = wl.layers(tracer, traced_wall)
            run_ok = run_ok and wl.layers_ok
            loop.attempted += loop2.attempted
            loop.failed += loop2.failed
            shutdown(spark)
            spark = None
            counters, jobs = event_log_counters(run_dir / "eventlog")
            layer["session.get_spark_s"] = statistics.median(g for g, _ in setups)
            layer["session.warmup_s"] = statistics.median(w for _, w in setups)
            layer.update(loop_layer)
            layer["trace.wall_s"] = traced_wall
            layer["trace.overhead_s"] = traced_wall - wall
            for name in SPARK_LAYERS:
                for c in COUNTERS:
                    layer[f"{name}.{c}"] = counters.get(name, {}).get(c, 0)
            layer["manifest.jobs"] = jobs.get("manifest", 0)
            tracer.dump(WORK / "trace" / f"{args.workload}-seed{args.seed}.json",
                        {"metrics": layer, "report": report, "jobs_per_group": jobs})
            report["traced_wall_s"] = quartiles(traced_walls)
            names = [m["name"] for m in spec["per_layer"]]
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            # a layer this workload does not call reports 0
            metrics = {n: layer.get(n, 0) for n in names}
        else:
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            metrics = {m["name"]: metrics[m["name"]] for m in spec["end_to_end"]}
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    report.update(attempted=loop.attempted, failed=loop.failed,
                  error_rate=loop.failed / loop.attempted, run_check=run_ok,
                  host={"loadavg_start": load_start, "loadavg_end": os.getloadavg()},
                  elapsed_s=time.time() - started)
    print(json.dumps(report), flush=True)
    print(json.dumps({
        "correct": bool(run_ok and loop.failed == 0),
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
