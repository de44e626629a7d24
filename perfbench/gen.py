"""Seeded input generators for the benchmark workloads.

The benchmark owns its inputs: the program under test only ever sees the
parquet table written here, so a change to the program's own synthetic
generator (``pipeline/transcripts.py``) cannot change what is measured.

* ``extract_mixed``: the transcript payload class mix (plain text, stray
  angle brackets, HTML pages, broken HTML, entities, multi-root fragments,
  tool output, XML) with Zipf-like conversation lengths.
* ``extract_plain``: agent-style traffic. About 90% of turns are long plain
  messages with no ``<`` or ``>``; the rest come from the same class mix.

Every workload also carries about 1% null payloads so the null path of the
kernel is exercised and counted.
"""
from __future__ import annotations

import datetime as dt
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

_ROLES = ('user', 'assistant', 'tool')
_TOOLS = ('browser', 'search', 'code')
_WORDS = ('alpha', 'beta', 'gamma', 'delta', 'lorem', 'ipsum', 'data',
          'spark', 'query', 'result', 'token', 'stream', 'render', 'table',
          'join', 'filter', 'cache', 'shuffle', 'café', 'q&a', 'naïve',
          'vector', 'index', 'commit')
_EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
_NULL_FRAC = 0.01

SCHEMA = pa.schema([
    pa.field('conv_id', pa.string(), nullable=False),
    pa.field('turn_idx', pa.int32(), nullable=False),
    pa.field('role', pa.string()),
    pa.field('text', pa.string()),
    pa.field('tool', pa.string()),
    pa.field('ts', pa.timestamp('us', tz='UTC')),
])

#: bump when the generated bytes change, so cached inputs are not reused
GEN_VERSION = 1


def _sentence(rng: random.Random, n: int) -> str:
    return ' '.join(rng.choice(_WORDS) for _ in range(n))


def markup_mix_payload(rng: random.Random) -> str:
    """one payload from the transcript class mix"""
    roll = rng.random()
    if roll < 0.15:  # plain text, no markup
        return _sentence(rng, rng.randint(3, 40))
    if roll < 0.25:  # text with stray angle brackets
        return f'{_sentence(rng, 5)} a < b and x > y {_sentence(rng, 5)}'
    if roll < 0.65:  # html page fragment
        paras = ''.join(
            f'<p class="c{rng.randint(0, 3)}">'
            f'{_sentence(rng, rng.randint(4, 25))}'
            f'{"<em>" + _sentence(rng, 2) + "</em>" if rng.random() < 0.3 else ""}'
            f'</p>' for _ in range(rng.randint(1, 6)))
        nav = ('<nav><a href="/">home</a><a href="/x">x</a></nav>'
               if rng.random() < 0.4 else '')
        script = ('<script>var a = 1 < 2;</script>'
                  if rng.random() < 0.3 else '')
        comment = '<!-- boilerplate -->' if rng.random() < 0.2 else ''
        footer = ('<footer>fine print</footer>'
                  if rng.random() < 0.3 else '')
        return (f'<html><head><title>t</title>{script}</head>'
                f'<body>{nav}{comment}<article>{paras}</article>{footer}'
                f'</body></html>')
    if roll < 0.8:  # broken html that fix_broken repairs
        bits = [f'<div class="m"><p>{_sentence(rng, rng.randint(4, 18))}'
                for _ in range(rng.randint(1, 4))]
        return ''.join(bits) + ('</div>' if rng.random() < 0.5 else '')
    if roll < 0.88:  # entities and void elements
        return (f'<div>{_sentence(rng, 6)} &amp; {_sentence(rng, 3)}'
                f' &#233; &lt;tag&gt;<br><img src="i.png">'
                f'<p>{_sentence(rng, 12)}</p></div>')
    if roll < 0.92:  # multi-root fragment
        return f'<p>{_sentence(rng, 8)}</p><p>{_sentence(rng, 9)}</p>'
    if roll < 0.96:  # tool output: fenced code or json
        if rng.random() < 0.5:
            return (f'<pre><code>def f(x):\n    return x &lt; '
                    f'{rng.randint(1, 99)}\n</code></pre>'
                    f'<p>{_sentence(rng, 12)}</p>')
        return ('{"result": "' + _sentence(rng, 4) + '", "items": ['
                + ', '.join(str(rng.randint(0, 99)) for _ in range(4)) + ']}')
    return (f'<?xml version="1.0" encoding="utf-8"?>'
            f'<doc id="{rng.randint(1, 999)}" flag>'
            f'<item k="v{rng.randint(0, 9)}">{_sentence(rng, 10)}</item></doc>')


def plain_payload(rng: random.Random) -> str:
    """an agent message: several long plain-text lines, no < or >"""
    lines = [_sentence(rng, rng.randint(8, 25))
             for _ in range(rng.randint(1, 5))]
    return '\n'.join(lines)


def _zipf_length(rng: random.Random, alpha: float = 1.6,
                 cap: int = 4000) -> int:
    """most conversations have 2-20 turns, a few are very long"""
    u = max(rng.random(), 1e-9)
    return min(int(2 + (1.0 / u) ** (1.0 / alpha)) + rng.randint(0, 18), cap)


def _payload_fn(workload: str):
    if workload == 'extract_plain':
        def pick(rng):
            return (plain_payload(rng) if rng.random() < 0.9
                    else markup_mix_payload(rng))
        return pick
    return markup_mix_payload


def generate(workload: str, n_turns: int, seed: int) -> pa.Table:
    """the workload's transcripts table, a pure function of its arguments"""
    rng = random.Random(f'{workload}:{seed}')
    payload = _payload_fn(workload)
    lengths = []
    left = n_turns
    while left > 0:
        n = min(_zipf_length(rng), left)
        lengths.append(n)
        left -= n
    cols = {name: [] for name in SCHEMA.names}
    for conv, length in enumerate(lengths):
        conv_id = f'conv-{seed:04d}-{conv:07d}'
        offset = rng.randint(0, 10_000_000)
        for turn in range(length):
            role = _ROLES[turn % 3]
            cols['conv_id'].append(conv_id)
            cols['turn_idx'].append(turn)
            cols['role'].append(role)
            cols['text'].append(None if rng.random() < _NULL_FRAC
                                else payload(rng))
            cols['tool'].append(rng.choice(_TOOLS) if role == 'tool' else '')
            cols['ts'].append(_EPOCH + dt.timedelta(seconds=offset + turn * 7))
    # shuffle rows so no input file holds whole conversations in order
    order = list(range(n_turns))
    rng.shuffle(order)
    return pa.table({k: [v[i] for i in order] for k, v in cols.items()},
                    schema=SCHEMA)


def cached_input(work_dir: str, workload: str, n_turns: int, seed: int,
                 n_files: int) -> str:
    """write (once) and return the parquet directory for these arguments"""
    path = os.path.join(work_dir, 'inputs',
                        f'{workload}-n{n_turns}-s{seed}-v{GEN_VERSION}')
    if os.path.exists(os.path.join(path, '_SUCCESS')):
        return path
    table = generate(workload, n_turns, seed)
    tmp = path + '.tmp'
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    step = -(-n_turns // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(tmp, f'part-{k:03d}.parquet'))
    open(os.path.join(tmp, '_SUCCESS'), 'w').close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path
