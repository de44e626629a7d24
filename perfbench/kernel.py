"""In-process replay of the extraction kernel and its phases.

The Spark boundary metrics say how long Python workers ran, not where the
time went inside them. Here the workload's payloads are pushed through the
same public functions the kernel calls, in this process and on one core,
with each phase timed on its own:

* ``extract_arrow_batches`` end to end (``extract.kernel_s``);
* ``pump_document`` into a no-op target defined below (``pump.doc_s``):
  parsing alone;
* ``gather_document`` (``gather.doc_s``): parsing plus the streaming
  fragment sink, so ``gather.sink_s = gather.doc_s - pump.doc_s``;
* ``score_fragments`` and ``select_main`` over the gathered fragments.

``extract.boundary_s`` is the kernel time the three phases do not explain:
``to_pylist``, the per-row loop, payload encoding and the Arrow build.
"""
from __future__ import annotations

import time

import pyarrow as pa

from pyxml_spark.engine.parse import HTML_VOID
from pyxml_spark.engine.pump import pump_document
from pyxml_spark.pipeline.extract import extract_arrow_batches
from pyxml_spark.pipeline.gather import gather_document
from pyxml_spark.pipeline.heuristics import (ExtractConfig, score_fragments,
                                             select_main)

_BATCH_ROWS = 10_000
_WARM_DOCS = 200


class NoopTarget:
    """parse-event sink that does nothing: isolates the parser's cost"""

    def start(self, tag, attrs):
        pass

    def end(self, tag):
        pass

    def startend(self, tag, attrs):
        pass

    def data(self, text, span=None):
        pass

    def comment(self, text):
        pass

    def declaration(self, declaration):
        pass

    def pi(self, target, pi):
        pass

    def close(self):
        return None


def _is_identity(payload: str) -> bool:
    return '<' not in payload and '>' not in payload


def replay(table: pa.Table, tracer) -> dict:
    """run every phase over ``table``'s (conv_id, turn_idx, text) rows;
    returns the per-layer metrics of the kernel"""
    config = ExtractConfig()
    texts = table.column('text').to_pylist()
    n_null = sum(t is None for t in texts)
    markup = [t.encode() for t in texts
              if t is not None and not _is_identity(t)]
    m = {'extract.rows_null': n_null,
         'extract.rows_markup': len(markup),
         'extract.rows_identity': len(texts) - n_null - len(markup)}
    batches = table.select(['conv_id', 'turn_idx', 'text']).to_batches(
        max_chunksize=_BATCH_ROWS)
    _phases(markup[:_WARM_DOCS], config)  # first-call costs stay untimed

    with tracer.span('kernel.pump_document'):
        t0 = time.perf_counter()
        for data in markup:
            try:
                pump_document(data, NoopTarget(), fix_broken=True,
                              empty=HTML_VOID, track_spans=True)
            except Exception:  # noqa: BLE001 - counted by the gather pass
                pass
        m['pump.doc_s'] = time.perf_counter() - t0

    with tracer.span('kernel.phases'):
        m.update(_phases(markup, config))
    m['gather.sink_s'] = m['gather.doc_s'] - m['pump.doc_s']

    with tracer.span('kernel.extract_arrow_batches'):
        t0 = time.perf_counter()
        n_out = sum(b.num_rows for b in extract_arrow_batches(iter(batches)))
        m['extract.kernel_s'] = time.perf_counter() - t0
    if n_out != len(texts):
        raise RuntimeError(f'kernel replay emitted {n_out} of {len(texts)}'
                           ' rows')
    m['extract.boundary_s'] = (m['extract.kernel_s'] - m['gather.doc_s']
                               - m['heuristics.score_s']
                               - m['heuristics.select_s'])
    return m


def _phases(markup: list, config) -> dict:
    """gather, score and select each document in turn, timing each phase;
    nothing is kept across documents, so the garbage collector sees the
    same live heap as in the kernel"""
    clock = time.perf_counter
    t_gather = t_score = t_select = 0.0
    errors = fragments = blocks = kept = 0
    sep = config.join_blocks_with
    for data in markup:
        t0 = clock()
        try:
            frags, boiler, n_nodes = gather_document(
                data, mode='html', fix_broken=True, track_spans=True)
        except Exception:  # noqa: BLE001 - per-turn containment
            t_gather += clock() - t0
            errors += 1
            continue
        t1 = clock()
        scored = score_fragments(frags, boiler)
        t2 = clock()
        picked = select_main(scored, n_nodes, config)
        t3 = clock()
        t_gather += t1 - t0
        t_score += t2 - t1
        t_select += t3 - t2
        fragments += len(frags)
        blocks += len(scored)
        # kept blocks are joined by join_blocks_with and are never empty
        # (at least min_block_chars normalised characters, none a '\n')
        if picked.main_text:
            kept += picked.main_text.count(sep) + 1
    return {'gather.doc_s': t_gather, 'gather.docs': len(markup),
            'gather.parse_errors': errors, 'gather.fragments': fragments,
            'heuristics.score_s': t_score, 'heuristics.select_s': t_select,
            'heuristics.blocks': blocks, 'heuristics.blocks_kept': kept}
