"""perfbench: transcript extraction throughput of pyxml_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload extract_mixed --seed 1 \\
        --seconds 6 --trace 0

The benchmark writes the workload's input table from ``--seed`` (gen.py),
runs the program's public pipeline functions on it at ``local[nproc]``,
checks the output (check.py) and prints, as its last stdout line, one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones. ``--trace 1`` is a
separate run that reports the per-layer ones and writes its spans to
``.perfbench_work/traces/``. The line before the result holds the full
report: every wall, the same-window CPU probe, ``nproc`` and the check
counts. The exit code is 0 only when every check passed. README.md
documents the workloads and the layer -> metric -> workload map.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid

from tracing import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, '.perfbench_work')
NPROC = len(os.sched_getaffinity(0))
PARTITIONS = 2 * NPROC

#: input turns per workload (gen.py builds the table)
WORKLOADS = {'extract_mixed': 20_000, 'extract_plain': 40_000}
INPUT_FILES = 4
SETUPS = 3
WARMUP_ACTIONS = 3
WARMUP_TURNS = 2000
MIN_ACTIONS = 3
SAMPLE_TURNS = 1500
KERNEL_ROWS = 10_000
IMPORT_REPS = 3
RESUME_BUCKETS = 4
RESUME_MAX_BUCKETS = 2
JVM_MEMORY = '2g'
_NO_TRACE = Tracer(False, '')

END_TO_END_UNITS = {'turns_per_s': 'turns/s', 'setup_s': 's',
                    'peak_rss_mb': 'MB'}
PER_LAYER_UNITS = {
    'scan.time_s': 's', 'scan.bytes': 'B',
    'skew.shuffle_write_s': 's', 'skew.shuffle_bytes': 'B',
    'skew.task_max_over_p50': 'ratio',
    'extract.python_boot_s': 's', 'extract.python_init_s': 's',
    'extract.python_run_s': 's', 'extract.python_init_share': 'ratio',
    'extract.bytes_to_python': 'B', 'extract.bytes_from_python': 'B',
    'extract.worker_import_s': 's',
    'extract.kernel_s': 's', 'extract.boundary_s': 's',
    'extract.rows_identity': 'count', 'extract.rows_markup': 'count',
    'extract.rows_null': 'count',
    'pump.doc_s': 's',
    'gather.doc_s': 's', 'gather.sink_s': 's', 'gather.docs': 'count',
    'gather.parse_errors': 'count', 'gather.fragments': 'count',
    'heuristics.score_s': 's', 'heuristics.select_s': 's',
    'heuristics.blocks': 'count', 'heuristics.blocks_kept': 'count',
    'sort.time_s': 's', 'sort.peak_mem_mb': 'MB', 'sort.spill_bytes': 'B',
    'resume.invocations': 'count', 'resume.invocation_s': 's',
    'resume.manifest_rows': 'count', 'resume.noop_s': 's',
    'write.files': 'count', 'write.bytes': 'B', 'write.commit_s': 's',
    'probe.units_per_s': '1/s', 'scaling.eff_1_to_n': 'ratio',
    'trace.overhead_frac': 'ratio',
}


def _prepare_env():
    """keep every file Spark writes inside the checkout and make Python
    workers import the package from this checkout"""
    tmp = os.path.join(WORK, 'tmp')
    for d in (tmp, os.path.join(WORK, 'spark-local')):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.environ['TMPDIR'] = tmp
    os.environ['SPARK_LOCAL_DIRS'] = os.path.join(WORK, 'spark-local')
    path = os.environ.get('PYTHONPATH')
    os.environ['PYTHONPATH'] = ROOT + (os.pathsep + path if path else '')
    os.environ['PYSPARK_PYTHON'] = sys.executable
    # the launcher JVM that spark-submit starts first, then the driver JVM
    os.environ['SPARK_LAUNCHER_OPTS'] = (
        f'-Djava.io.tmpdir={tmp} -XX:-UsePerfData')
    os.environ['PYSPARK_SUBMIT_ARGS'] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        '--conf spark.ui.showConsoleProgress=false pyspark-shell')
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _worker_package_file(batches):
    import pyarrow as pa
    import pyxml_spark
    import pyxml_spark.pipeline.extract  # noqa: F401 - the kernel's import
    for b in batches:
        yield pa.RecordBatch.from_arrays(
            [pa.array([pyxml_spark.__file__] * b.num_rows, pa.string())],
            names=['path'])


def _session(cpus: int):
    from pyxml_spark.jobs.extract import build_session
    spark = build_session(cpus, app='perfbench', memory=JVM_MEMORY)
    spark.sparkContext.setLogLevel('ERROR')
    return spark


def setup(cpus: int, times: int, tracer):
    """build the session and run a first action ``times`` times (stopping
    in between); returns the last session and each wall.

    The first action is one row through ``mapInArrow``: it starts a Python
    worker, imports the extraction kernel there and returns the path of the
    ``pyxml_spark`` package it imported, which must be this checkout's."""
    want = os.path.realpath(os.path.join(ROOT, 'pyxml_spark', '__init__.py'))
    spark, walls = None, []
    for _ in range(times):
        if spark is not None:
            spark.stop()
        with tracer.span('setup', cpus=cpus):
            t0 = time.perf_counter()
            spark = _session(cpus)
            got = (spark.range(1)
                   .mapInArrow(_worker_package_file, 'path string')
                   .collect()[0].path)
            walls.append(time.perf_counter() - t0)
        if os.path.realpath(got) != want:
            raise RuntimeError(f'workers import {got}, not {want}')
    return spark, walls


def _extraction(spark, path: str, limit=None):
    from pyxml_spark.pipeline.extract import extract_turns
    df = spark.read.parquet(path)
    if limit:
        df = df.limit(limit)
    return extract_turns(df, partitions=PARTITIONS)


def _extract_action(spark, path: str, limit=None):
    """the measured action: the whole output through a noop sink.
    ``count()`` would let the optimizer drop the local sort."""
    _extraction(spark, path, limit).write.format('noop').mode(
        'overwrite').save()


class Actions:
    """runs the warm-up and measured actions, counting attempted and
    failed turns"""

    def __init__(self, n_turns: int):
        self.n_turns = n_turns
        self.attempted = 0
        self.failed = 0
        self.errors: list = []

    def run(self, fn):
        """wall seconds of ``fn()``, or None when it raised"""
        self.attempted += self.n_turns
        t0 = time.perf_counter()
        try:
            fn()
        except Exception as exc:  # noqa: BLE001 - counted and reported
            self.failed += self.n_turns
            self.errors.append(f'{type(exc).__name__}: {exc}'[:500])
            return None
        return time.perf_counter() - t0


def spark_layers(stats, execs) -> dict:
    """per-layer metrics Spark's plans and tasks reported for ``execs``"""
    from sparkstats import pick
    pm = stats.plan_metrics(execs)
    write = 'Execute InsertIntoHadoopFsRelationCommand'
    m = {
        'scan.time_s': pick(pm, 'Scan parquet', 'scan time'),
        'scan.bytes': pick(pm, 'Scan parquet', 'size of files read'),
        'skew.shuffle_write_s': pick(pm, 'Exchange', 'shuffle write time'),
        'skew.shuffle_bytes': pick(pm, 'Exchange', 'shuffle bytes written'),
        'skew.task_max_over_p50': stats.task_skew(execs),
        'extract.python_boot_s': pick(pm, 'MapInArrow',
                                      'time to start Python workers'),
        'extract.python_init_s': pick(pm, 'MapInArrow',
                                      'time to initialize Python workers'),
        'extract.python_run_s': pick(pm, 'MapInArrow',
                                     'time to run Python workers'),
        'extract.bytes_to_python': pick(pm, 'MapInArrow',
                                        'data sent to Python workers'),
        'extract.bytes_from_python': pick(
            pm, 'MapInArrow', 'data returned from Python workers'),
        'sort.time_s': pick(pm, 'Sort', 'sort time'),
        'sort.peak_mem_mb': pick(pm, 'Sort', 'peak memory') / 2 ** 20,
        'sort.spill_bytes': pick(pm, 'Sort', 'spill size'),
        'write.files': pick(pm, write, 'number of written files'),
        'write.bytes': pick(pm, write, 'written output'),
        'write.commit_s': (pick(pm, write, 'task commit time')
                           + pick(pm, write, 'job commit time')),
    }
    python = (m['extract.python_boot_s'] + m['extract.python_init_s']
              + m['extract.python_run_s'])
    m['extract.python_init_share'] = (m['extract.python_init_s'] / python
                                      if python else 0.0)
    return m


def measure(spark, path: str, acts: Actions, seconds: float, tracer,
            stats) -> dict:
    """the end-to-end window: extraction actions until ``seconds`` have
    passed (at least MIN_ACTIONS). In the traced run (``stats`` given)
    untraced and traced actions alternate in ABBA order (a drift over the
    window cancels out), so the tracing overhead is measured in the same
    window, and Spark's per-layer metrics are read after each traced
    action."""
    from sysmon import PeakRss, steal_ticks
    plain, traced, layers, peaks = [], [], [], []
    t0 = time.perf_counter()
    t_end = t0 + seconds
    steal0 = steal_ticks()
    k = 0
    with PeakRss() as rss:
        while (time.perf_counter() < t_end or k < MIN_ACTIONS
               or (stats is not None and k % 4)):
            on = stats is not None and k % 4 in (1, 2)
            k += 1
            mark = stats.mark() if on else None
            # a full JVM collection first gives each action's memory peak
            # the same starting heap, whatever the previous actions left
            spark.sparkContext._jvm.System.gc()
            rss.take()
            with (tracer if on else _NO_TRACE).span('extract.action'):
                wall = acts.run(lambda: _extract_action(spark, path))
            if wall is None:
                continue
            peaks.append(rss.take())
            (traced if on else plain).append(wall)
            if on:
                layers.append(spark_layers(stats,
                                           stats.executions_since(mark)))
    window = time.perf_counter() - t0
    steal = (steal_ticks() - steal0) / os.sysconf('SC_CLK_TCK')
    return {'plain': plain, 'traced': traced, 'layers': layers,
            'peak_rss': peaks,
            'steal_share': steal / (window * os.cpu_count())}


def resume_loop(spark, path: str, out_dir: str, tracer) -> dict:
    """the jobs/extract.py path: ``run_with_resume`` with ``max_buckets``
    until nothing remains, then one more call that must do no work"""
    from pyxml_spark.pipeline.resume import run_with_resume
    shutil.rmtree(out_dir, ignore_errors=True)
    output = os.path.join(out_dir, 'out')
    manifest = os.path.join(out_dir, 'manifest')

    def call(tag):
        with tracer.span(tag):
            t0 = time.perf_counter()
            got = run_with_resume(spark, path, output, manifest,
                                  n_buckets=RESUME_BUCKETS,
                                  max_buckets=RESUME_MAX_BUCKETS,
                                  partitions=PARTITIONS)
            return got, time.perf_counter() - t0

    calls = []
    while True:
        got, wall = call('resume.call')
        calls.append(wall)
        if got['remaining'] == 0:
            break
        if len(calls) > RESUME_BUCKETS:
            raise RuntimeError('run_with_resume did not converge')
    noop, noop_s = call('resume.noop_call')
    return {'calls': calls, 'noop': noop, 'noop_s': noop_s,
            'output': output, 'manifest': manifest}


def _plant_wrong_row(df, key):
    """test hook: corrupt one sampled turn's main_text"""
    from pyspark.sql import functions as F
    hit = (F.col('conv_id') == key[0]) & (F.col('turn_idx') == key[1])
    return df.withColumn('main_text', F.when(
        hit, F.concat(F.coalesce('main_text', F.lit('')),
                      F.lit(' [planted]'))).otherwise(F.col('main_text')))


def verify(out_df, grp_col, inputs, seed: int, plant: bool) -> dict:
    """collect the keys of every output row plus the sampled
    conversations' text, then count failures (check.py)"""
    from pyspark.sql import functions as F
    from check import check_output, sample_conversations
    sample = sample_conversations(inputs, seed, SAMPLE_TURNS)
    if plant:
        out_df = _plant_wrong_row(out_df, (min(sample), 0))
    sampled = F.col('conv_id').isin(sorted(sample))
    got = out_df.select('conv_id', 'turn_idx', grp_col.alias('grp'),
                        sampled.alias('sampled'),
                        F.when(sampled, F.col('main_text')).alias(
                            'main_text')).toArrow()
    return check_output(got, inputs)


def verify_resume(spark, loop: dict, inputs, seed: int) -> dict:
    """the read-back output (files as groups) plus the resume protocol: one
    manifest row per bucket, row counts summing to the input, and a final
    call that did no work"""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    got = verify(spark.read.parquet(loop['output']), F.input_file_name(),
                 inputs, seed, plant=False)
    manifest = pq.read_table(loop['manifest'])
    buckets = manifest.column('bucket').to_pylist()
    protocol = (abs(sum(manifest.column('rows_out').to_pylist())
                    - inputs.num_rows)
                + len(buckets) - len(set(buckets))
                + loop['noop']['rows_out'] + loop['noop']['buckets_run'])
    got['resume_protocol'] = protocol
    got['failed'] += protocol
    return got


def _checked(n_turns: int, check) -> dict:
    """``check()``'s failure counts; every turn fails when it raises"""
    try:
        return check()
    except Exception as exc:  # noqa: BLE001 - counted and reported
        return {'failed': n_turns, 'error': f'{type(exc).__name__}: {exc}'}


def worker_import_s() -> float:
    """cold import of the kernel module in a fresh interpreter, as a new
    Python worker pays it (median of IMPORT_REPS)"""
    code = 'import pyxml_spark.pipeline.extract'
    walls = []
    for _ in range(IMPORT_REPS):
        t0 = time.perf_counter()
        subprocess.run([sys.executable, '-c', code], check=True, cwd=ROOT)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def per_layer(spark, stats, args, path, inputs, got, tracer):
    """the traced run's extra passes; returns (metrics, resume check
    counts, the session left running)"""
    import pyarrow.parquet as pq
    from kernel import replay
    layers = {k: statistics.median(d[k] for d in got['layers'])
              for k in got['layers'][0]}
    layers['trace.overhead_frac'] = (statistics.mean(got['traced'])
                                     / statistics.mean(got['plain']) - 1)

    # the resume and write layers, on this workload's input; they are not
    # part of the workload's end-to-end action
    mark = stats.mark()
    with tracer.span('resume.loop'):
        loop = resume_loop(spark, path, os.path.join(WORK, 'resume-out'),
                           tracer)
    written = spark_layers(stats, stats.executions_since(mark))
    layers.update({k: v for k, v in written.items()
                   if k.startswith('write.')})
    layers.update({
        'resume.invocations': len(loop['calls']) + 1,
        'resume.invocation_s': statistics.median(loop['calls']),
        'resume.manifest_rows': pq.read_table(loop['manifest']).num_rows,
        'resume.noop_s': loop['noop_s']})
    with tracer.span('verify.resume'):
        checked = _checked(inputs.num_rows, lambda: verify_resume(
            spark, loop, inputs, args.seed))

    with tracer.span('kernel.replay'):
        layers.update(replay(inputs.slice(0, KERNEL_ROWS), tracer))
    with tracer.span('kernel.worker_import'):
        layers['extract.worker_import_s'] = worker_import_s()

    # local[nproc] throughput comes from the window's untraced actions
    with tracer.span('scaling'):
        spark.stop()
        spark, _ = setup(1, 1, tracer)
        _extract_action(spark, path, WARMUP_TURNS)
        with tracer.span('scaling.local_1'):
            t0 = time.perf_counter()
            _extract_action(spark, path)
            wall_1 = time.perf_counter() - t0
    layers['scaling.eff_1_to_n'] = (wall_1 / statistics.median(got['plain'])
                                    / NPROC)
    return layers, checked, spark


def _shutdown_jvm():
    """stop the Spark gateway JVM and wait for it and every Python worker
    it started to end"""
    from pyspark import SparkContext
    from sysmon import descendants
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, 'proc', None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:  # ended meanwhile
            pass


def run(args) -> dict:
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession, functions as F
    from gen import cached_input
    from sparkstats import SparkStats
    from sysmon import cpu_probe

    n_turns = args.turns or WORKLOADS[args.workload]
    traced_run = args.trace == 1
    tracer = Tracer(traced_run, uuid.uuid4().hex[:12])
    report = {'workload': args.workload, 'seed': args.seed,
              'trace': args.trace, 'nproc': NPROC, 'turns': n_turns,
              'trace_id': tracer.trace_id}
    probes = []
    with tracer.span('input.generate'):
        path = cached_input(WORK, args.workload, n_turns, args.seed,
                            INPUT_FILES)
    with tracer.span('input.read'):
        inputs = pq.read_table(path, columns=['conv_id', 'turn_idx', 'text'])

    try:
        spark, setups = setup(NPROC, 1 if traced_run else SETUPS, tracer)
        # the checks run the same plan, so they double as the first
        # untimed warm-up action; in a fresh JVM the action wall keeps
        # falling until about the fifth action (JIT), hence WARMUP_ACTIONS
        with tracer.span('verify'):
            checked = _checked(n_turns, lambda: verify(
                _extraction(spark, path), F.spark_partition_id(), inputs,
                args.seed, args.plant_wrong_row))
        acts = Actions(n_turns)
        with tracer.span('warmup'):
            for _ in range(WARMUP_ACTIONS):
                acts.run(lambda: _extract_action(spark, path))
        stats = SparkStats(spark) if traced_run else None
        probes.append(cpu_probe())
        with tracer.span('measure'):
            got = measure(spark, path, acts, args.seconds, tracer, stats)
        probes.append(cpu_probe())
        attempted = acts.attempted + n_turns
        failed = acts.failed + checked['failed']
        walls = got['plain'] + got['traced']
        e2e = {
            'turns_per_s': (n_turns / statistics.median(walls) if walls
                            else 0.0),
            'setup_s': statistics.median(setups),
            'peak_rss_mb': (statistics.median(got['peak_rss']) / 2 ** 20
                            if walls else 0.0),
        }
        report.update(setup_walls_s=setups, action_walls_s=got['plain'],
                      action_peak_rss_b=got['peak_rss'],
                      window_steal_share=got['steal_share'],
                      traced_action_walls_s=got['traced'], check=checked,
                      errors=acts.errors, end_to_end=e2e)
        if not traced_run:
            report['probe_units_per_s'] = probes
            return _result(report, attempted, failed, e2e, END_TO_END_UNITS)

        layers, resumed, spark = per_layer(spark, stats, args, path, inputs,
                                           got, tracer)
        attempted += n_turns
        failed += resumed['failed']
        report['check_resume'] = resumed
        probes.append(cpu_probe())
        report['probe_units_per_s'] = probes
        layers['probe.units_per_s'] = statistics.median(probes)
        report['self_s'] = tracer.self_times()
        os.makedirs(os.path.join(WORK, 'traces'), exist_ok=True)
        trace_path = os.path.join(WORK, 'traces',
                                  f'{args.workload}-s{args.seed}.json')
        tracer.dump(trace_path, report=report, per_layer=layers)
        report['trace_file'] = os.path.relpath(trace_path, ROOT)
        return _result(report, attempted, failed, layers, PER_LAYER_UNITS)
    finally:
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        _shutdown_jvm()


def _result(report, attempted, failed, values, units) -> dict:
    report['end_to_end'] = dict(report['end_to_end'],
                                failed_frac=failed / attempted)
    return {'correct': failed == 0, 'attempted': attempted,
            'failed': failed,
            'metrics': {k: {'value': values[k], 'unit': u}
                        for k, u in units.items()},
            'report': report}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload', required=True, choices=sorted(WORKLOADS))
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    ap.add_argument('--turns', type=int, default=None,
                    help='override the workload input size (tests)')
    ap.add_argument('--plant-wrong-row', action='store_true',
                    help='corrupt one checked turn (tests the check)')
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, 'pyxml_spark', '__init__.py')):
        print(f'perfbench: no pyxml_spark package under {ROOT}',
              file=sys.stderr)
        return 2
    _prepare_env()
    t0 = time.perf_counter()
    result = run(args)
    report = result.pop('report')
    report['run_wall_s'] = time.perf_counter() - t0
    os.makedirs(os.path.join(WORK, 'reports'), exist_ok=True)
    with open(os.path.join(WORK, 'reports', f'{args.workload}-s{args.seed}'
                           f'-t{args.trace}.json'), 'w') as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps({'report': report}))
    print(json.dumps(result))
    return 0 if result['correct'] else 1


if __name__ == '__main__':
    sys.exit(main())
