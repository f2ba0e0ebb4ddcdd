"""Two-parallelism scaling evidence (north_rule: throughput scaling
efficiency ≥ 0.8 from N to 4N executors, evidenced in-sandbox as local[N]
vs local[4N] on the SAME input).

Hardened per the r4 plan (the r3 verdict's #1: the evidence did not
reproduce under independent measurement — the 16-core leg's number was a
property of its noise window):

- each leg runs as ``reps`` independent bench.py subprocesses (each itself
  best-of-3 internally, with its own per-run external-busy retry), and the
  leg's figure is the best across subprocesses — session-level variance
  (JVM startup, worker-pool shape, page-cache state) averages out;
- before EVERY leg the host is gated on the /proc/stat external-busy
  fraction (sampled while this process is idle — the only signal that
  separates a noisy neighbor from our own just-finished burst): the leg
  waits for a ≤ BUSY_CLEAN window, up to a timeout;
- r5: the gate ALSO requires a first-touch memory-bandwidth probe ≥
  MEM_CLEAN_GBPS — the cold-microVM degraded state (lazily-backed guest
  pages, measured 0.07 GB/s fill vs ~7 GB/s healthy) stalls every worker
  while ext-busy reads 0.00, so the CPU gate alone admits garbage windows;
- r5: a gate that times out still dirty is LOUDLY flagged: the sample is
  recorded with ``gate_timeout: true``, excluded from best-of selection
  while any clean sample exists for the leg, and surfaced in
  BENCH/BASELINE.md (the r4 gate silently admitted such legs);
- leg order alternates between repetitions (low,high / high,low) so slow
  host drift cannot systematically favor one leg;
- the WHOLE measurement runs twice; BENCH/BASELINE.md reports both
  efficiencies, their delta (repeatability: the r3 'done' bar is a second
  run within ±0.05), and the per-leg ext-busy at each best run.

Usage: python tools/scaling_bench.py [n_low] [n_high] [turns] [reps]
(legs default to max(1, os.cpu_count() // 4) and os.cpu_count()).
"""

from __future__ import annotations

import datetime
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUSY_CLEAN = 0.05   # external CPU busy fraction considered a clean window
MEM_CLEAN_GBPS = 1.0  # first-touch fill below this = degraded page backing
GATE_TIMEOUT = 300  # max seconds to wait for a clean window per leg


def external_busy(window: float = 0.5) -> float:
    """CPU busy fraction over ``window`` seconds, measured while WE are
    idle — any busy time is another tenant's (same probe as bench.py)."""
    def snap():
        with open("/proc/stat") as fh:
            f = fh.readline().split()[1:]
        vals = list(map(int, f))
        return vals[3] + vals[4], sum(vals)  # idle+iowait, total

    i0, t0 = snap()
    time.sleep(window)
    i1, t1 = snap()
    return 1.0 - (i1 - i0) / max(t1 - t0, 1)


def first_touch_gbps(mb: int = 256) -> float:
    """GB/s filling a FRESH anonymous mapping (first-touch faults included).
    Healthy host: several GB/s. Cold Firecracker microVM with lazily-backed
    guest pages: as low as 0.07 GB/s while ext-busy reads 0.00 — the r4
    degraded signature the CPU gate cannot see (memory file
    cold-microvm-first-touch). Large NumPy allocations mmap fresh pages, so
    repeated probes keep measuring first-touch, not a warmed buffer."""
    import numpy as np

    n = mb * 2**20 // 8
    t0 = time.perf_counter()
    a = np.empty(n, dtype=np.int64)
    a.fill(1)
    dt = time.perf_counter() - t0
    del a
    return (mb / 1024.0) / max(dt, 1e-9)


def wait_clean() -> tuple[float, float, bool]:
    """Block until the host shows a clean window: ext-busy ≤ BUSY_CLEAN AND
    first-touch fill ≥ MEM_CLEAN_GBPS. Returns (busy, mem_gbps, timed_out);
    on timeout the last readings are returned and timed_out is True — the
    caller must flag the sample, not silently admit it."""
    t0 = time.time()
    busy, mem = external_busy(), 0.0
    while True:
        if busy <= BUSY_CLEAN:
            mem = first_touch_gbps()
            if mem >= MEM_CLEAN_GBPS:
                return busy, mem, False
        if time.time() - t0 >= GATE_TIMEOUT:
            print(
                f"  *** GATE TIMEOUT after {GATE_TIMEOUT}s: ext-busy "
                f"{busy:.2f} (bar {BUSY_CLEAN}), first-touch {mem:.2f} GB/s "
                f"(bar {MEM_CLEAN_GBPS}) — leg runs DIRTY and is flagged",
                file=sys.stderr,
            )
            return busy, mem, True
        why = (
            f"ext-busy {busy:.2f} > {BUSY_CLEAN}"
            if busy > BUSY_CLEAN
            else f"first-touch {mem:.2f} GB/s < {MEM_CLEAN_GBPS}"
        )
        print(f"  gate: {why}, waiting...", file=sys.stderr)
        time.sleep(5)
        busy = external_busy()


def run_bench(cpus: int, turns: int) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_TURNS=str(turns),
        SPARK_GRAFT_BENCH_ONLY="transcripts_extract,transcripts_conv_stats",
        SPARK_GRAFT_SF_DIR=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env, capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def measure_once(n_low: int, n_high: int, turns: int, reps: int) -> dict:
    """One full efficiency measurement: ``reps`` gated subprocess runs per
    leg (alternating order), best-of per leg."""
    samples: dict[int, list[dict]] = {n_low: [], n_high: []}
    for rep in range(reps):
        order = (n_low, n_high) if rep % 2 == 0 else (n_high, n_low)
        for cpus in order:
            gate_busy, gate_mem, gate_to = wait_clean()
            r = run_bench(cpus, turns)
            r["gate_busy"] = round(gate_busy, 3)
            r["gate_mem_gbps"] = round(gate_mem, 2)
            r["gate_timeout"] = gate_to
            samples[cpus].append(r)
            print(
                f"  local[{cpus}] rep{rep}: {r['queries']['transcripts_extract']}s"
                f" = {r['turns_per_sec']} turns/s (gate {gate_busy:.2f},"
                f" mem {gate_mem:.2f} GB/s,"
                f"{' DIRTY,' if gate_to else ''}"
                f" run ext-busy {r['loadavg']['transcripts_extract'][0]})",
                file=sys.stderr,
            )
    # dirty (gate-timeout) samples never beat a clean one; a leg with ONLY
    # dirty samples stays in the report but carries the flag
    best = {
        c: max(rs, key=lambda r: (not r["gate_timeout"], r["turns_per_sec"]))
        for c, rs in samples.items()
    }
    eff = (best[n_high]["turns_per_sec"] / best[n_low]["turns_per_sec"]) / (
        n_high / n_low
    )
    return {"best": best, "samples": samples, "efficiency": round(eff, 3)}


def main() -> None:
    cpus = os.cpu_count() or 1
    n_low = int(sys.argv[1]) if len(sys.argv) > 1 else max(1, cpus // 4)
    n_high = int(sys.argv[2]) if len(sys.argv) > 2 else cpus
    turns = int(sys.argv[3]) if len(sys.argv) > 3 else 2_000_000
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3

    print(f"warm-up generation pass (shared input, {turns} turns)...",
          file=sys.stderr)
    run_bench(n_high, turns)  # generates the table + warms the page cache

    runs = []
    for i in (1, 2):
        print(f"measurement run {i}...", file=sys.stderr)
        runs.append(measure_once(n_low, n_high, turns, reps))
    delta = abs(runs[0]["efficiency"] - runs[1]["efficiency"])

    ratio = n_high / n_low
    rows = []
    for i, m in enumerate(runs, 1):
        for cpus in (n_low, n_high):
            b = m["best"][cpus]
            rows.append(
                f"| {i} | local[{cpus}]"
                f"{' (N)' if cpus == n_low else f' ({ratio:.0f}N)'} "
                f"| {b['queries']['transcripts_extract']} | {b['turns_per_sec']}"
                f" | {b['loadavg']['transcripts_extract'][0]} | {b['gate_busy']}"
                f" | {b.get('gate_mem_gbps', '—')}"
                f"{' **DIRTY**' if b.get('gate_timeout') else ''}"
                f" | {b['queries'].get('transcripts_conv_stats')} |"
            )
    table = "\n".join(rows)

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    stamp = datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds")
    md = f"""# BENCH/BASELINE.md — measured scaling evidence

Generated by `python tools/scaling_bench.py {n_low} {n_high} {turns} {reps}`
at {stamp}.

North rule: extraction throughput scaling efficiency >= 0.8 from N to 4N
executors. Evidenced in-sandbox as the same extraction job (same input
parquet, {turns} transcript turns incl. one mega-conversation) at
`local[{n_low}]` vs `local[{n_high}]` on one host.

Protocol (r5, reproducibility-hardened — see tools/scaling_bench.py):
each leg = best of {reps} independent bench.py subprocesses (each itself
best-of-3 with per-run external-busy retry), every leg gated on a
/proc/stat external-busy <= {BUSY_CLEAN} window AND a first-touch
memory-bandwidth probe >= {MEM_CLEAN_GBPS} GB/s (rejects the cold-microVM
lazily-backed-pages state that degraded r3/r4 readings while ext-busy read
0.00), leg order alternated, and the WHOLE measurement repeated twice.
"ext-busy" below is the external CPU busy fraction at the best run's start
(0.00 = no noisy neighbor); "gate" / "gate-mem" are the readings that
admitted the leg; a leg whose gate timed out still dirty is marked
**DIRTY** and was excluded from best-of while any clean sample existed.

| run | parallelism | extract wall (s) | turns/sec | ext-busy | gate | gate-mem (GB/s) | conv_stats wall (s) |
|---|---|---|---|---|---|---|---|
{table}

**Scaling efficiency (N -> {ratio:.0f}N): run 1 = {runs[0]['efficiency']},
run 2 = {runs[1]['efficiency']} (delta {delta:.3f}; repeatability bar ±0.05)**
(target >= 0.8)

Notes:
- The extraction stage is shuffle-free (single mapInArrow over parquet
  partitions), so parallel efficiency measures task scheduling + Arrow +
  Python-worker scaling, the same components that dominate on a real
  multi-executor cluster at fixed data-per-executor.
- Output equality across parallelism levels is enforced separately by
  pytest (tests/test_extraction_spark.py::test_deterministic_across_partitionings).
- The default legs are max(1, cpus // 4) vs all cpus of the measuring
  host (os.cpu_count()), so N -> 4N never oversubscribes the machine.
"""
    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    # preserve manually-added sections (e.g. the sustained-scale soak)
    if os.path.exists(path):
        old = open(path).read()
        marker = "\n## Sustained-scale soak"
        if marker in old:
            md += marker + old.split(marker, 1)[1]
    with open(path, "w") as f:
        f.write(md)
    print(json.dumps({
        "n_low": n_low, "n_high": n_high, "turns": turns, "reps": reps,
        "efficiency_run1": runs[0]["efficiency"],
        "efficiency_run2": runs[1]["efficiency"],
        "delta": round(delta, 3),
        "tps_low_best": runs[0]["best"][n_low]["turns_per_sec"],
        "tps_high_best": runs[0]["best"][n_high]["turns_per_sec"],
    }))


if __name__ == "__main__":
    main()
