"""Output checks, run outside every timed region.

Row checks cover every output row: each input turn appears exactly once,
no turn appears that was not in the input, and keys ``(conv_id, turn_idx)``
increase within each output group (a Spark partition, or an output file).
Text checks compare ``main_text`` with an oracle on a seed-derived sample
of whole conversations.

The oracle parses with the reference ``pyxml`` when it is importable and
otherwise with the program's DOM parser (``engine.html.fromstring``), then
applies ``heuristics.extract_main`` — the same rule as
``tests/test_pipeline_spark.py:reference_oracle_row``. Either way it is an
independent path from the kernel's streaming gatherer.
"""
from __future__ import annotations

import random

import pyarrow as pa


def _parser():
    try:
        import pyxml.html
        return pyxml.html.fromstring, 'pyxml'
    except ImportError:
        from pyxml_spark.engine.html import fromstring
        return fromstring, 'pyxml_spark.engine.html'


def oracle_main_text(payload, parse) -> str:
    from pyxml_spark.pipeline.heuristics import extract_main
    if payload is None:
        return ''
    if '<' not in payload and '>' not in payload:
        return payload
    try:
        root = parse(payload.encode())
    except Exception:  # noqa: BLE001 - the kernel emits '' on parse errors
        return ''
    return extract_main(root, count_nodes=False).main_text


def sample_conversations(inputs: pa.Table, seed: int,
                         max_turns: int) -> set:
    """whole conversations, picked by seed, up to ``max_turns`` turns"""
    sizes: dict = {}
    for c in inputs.column('conv_id').to_pylist():
        sizes[c] = sizes.get(c, 0) + 1
    convs = sorted(sizes)
    random.Random(f'sample:{seed}').shuffle(convs)
    picked, total = set(), 0
    for c in convs:
        if total + sizes[c] <= max_turns:
            picked.add(c)
            total += sizes[c]
    return picked


def check_output(out: pa.Table, inputs: pa.Table) -> dict:
    """failure counts for ``out`` (conv_id, turn_idx, grp, sampled,
    main_text); main_text is only read where ``sampled`` is true"""
    texts = dict(zip(zip(inputs.column('conv_id').to_pylist(),
                         inputs.column('turn_idx').to_pylist()),
                     inputs.column('text').to_pylist()))
    parse, oracle = _parser()
    seen: set = set()
    last: dict = {}
    dup = extra = unordered = mismatched = checked = 0
    for conv, turn, grp, sampled, main_text in zip(
            *(out.column(c).to_pylist() for c in (
                'conv_id', 'turn_idx', 'grp', 'sampled', 'main_text'))):
        key = (conv, turn)
        if key in seen:
            dup += 1
        seen.add(key)
        if key not in texts:
            extra += 1
        prev = last.get(grp)
        if prev is not None and key <= prev:
            unordered += 1
        last[grp] = key
        if sampled and key in texts:
            checked += 1
            if main_text != oracle_main_text(texts[key], parse):
                mismatched += 1
    missing = len(texts.keys() - seen)
    return {'missing': missing, 'duplicated': dup, 'unexpected': extra,
            'unordered': unordered, 'mismatched': mismatched,
            'text_checked': checked, 'oracle': oracle,
            'failed': missing + dup + extra + unordered + mismatched}
