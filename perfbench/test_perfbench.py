"""Tests of the benchmark itself: run ``python3 -m pytest perfbench -q``
from the checkout root. The end-to-end cases start Spark several times and
take a few minutes."""
from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, 'BENCHMARK.json')) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w['name'] for w in SPEC['workloads']]
UNIT_RX = re.compile(r'^[A-Za-z0-9_/%.-]{1,16}$')
TINY = ['--seconds', '1', '--turns', '600']


def _run(cwd, *args):
    cmd = list(SPEC['command']) + list(args)
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=300)


def _result(proc) -> dict:
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_metrics(result, declared):
    assert list(result['metrics']) == [m['name'] for m in declared]
    for m in declared:
        got = result['metrics'][m['name']]
        assert set(got) == {'value', 'unit'}
        assert got['unit'] == m['unit'] and UNIT_RX.match(got['unit'])
        assert isinstance(got['value'], (int, float))


@pytest.mark.parametrize('workload', WORKLOADS)
def test_untraced_run_prints_declared_end_to_end_metrics(workload):
    proc = _run(ROOT, '--workload', workload, '--seed', '7', '--trace', '0',
                *TINY)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = _result(proc)
    assert set(result) == {'correct', 'attempted', 'failed', 'metrics'}
    assert result['correct'] and result['failed'] == 0
    assert result['attempted'] >= 1
    _assert_metrics(result, SPEC['end_to_end'])
    assert all(result['metrics'][m]['value'] > 0
               for m in result['metrics'])


@pytest.mark.parametrize('workload', WORKLOADS)
def test_traced_run_prints_declared_per_layer_metrics(workload):
    proc = _run(ROOT, '--workload', workload, '--seed', '7', '--trace', '1',
                *TINY)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = _result(proc)
    _assert_metrics(result, SPEC['per_layer'])
    report = json.loads(proc.stdout.strip().splitlines()[-2])['report']
    with open(os.path.join(ROOT, report['trace_file'])) as fh:
        trace = json.load(fh)
    names = {s['name'] for s in trace['spans']}
    assert {'setup', 'measure', 'extract.action', 'verify', 'resume.call',
            'resume.noop_call', 'kernel.replay', 'scaling'} <= names
    ids = {s['id'] for s in trace['spans']}
    assert all(s['parent'] is None or s['parent'] in ids
               for s in trace['spans'])


def test_planted_wrong_row_fails_the_run():
    proc = _run(ROOT, '--workload', WORKLOADS[0], '--seed', '7',
                '--trace', '0', '--plant-wrong-row', *TINY)
    assert proc.returncode != 0
    result = _result(proc)
    assert result['failed'] > 0 and not result['correct']
    report = json.loads(proc.stdout.strip().splitlines()[-2])['report']
    assert report['check']['mismatched'] == 1
    assert report['end_to_end']['failed_frac'] > 0


def test_checkout_without_program_fails_without_result(tmp_path):
    shutil.copy(os.path.join(ROOT, 'BENCHMARK.json'), tmp_path)
    for rel in SPEC['paths']:
        shutil.copytree(os.path.join(ROOT, rel), tmp_path / rel,
                        ignore=shutil.ignore_patterns('__pycache__'))
    proc = _run(tmp_path, '--workload', WORKLOADS[0], '--seed', '1',
                '--seconds', '1', '--trace', '0')
    assert proc.returncode != 0
    assert proc.stdout.strip() == ''


def test_parse_metric_reads_spark_display_strings():
    from sparkstats import parse_metric
    assert parse_metric('total (min, med, max (stageId: taskId))\n'
                        '7.6 s (158 ms, 630 ms, 1.0 s (stage 9.0: task 22))'
                        ) == pytest.approx(7.6)
    assert parse_metric('21 ms') == pytest.approx(0.021)
    assert parse_metric('5.1 MiB') == pytest.approx(5.1 * 2 ** 20)
    assert parse_metric('40,000') == 40000
    with pytest.raises(ValueError):
        parse_metric('n/a')


def test_self_time_excludes_child_spans():
    import time
    from tracing import Tracer
    tr = Tracer(True, 't')
    with tr.span('outer'):
        time.sleep(0.02)
        with tr.span('inner'):
            time.sleep(0.05)
    self_s = tr.self_times()
    assert self_s['inner'] >= 0.05
    assert 0.02 <= self_s['outer'] < 0.05
