"""Arrow-batched main-content extraction over a transcripts DataFrame.

The Spark operator required by the north_star: "batched Arrow UDFs that
tokenize and tree-build whole columns of turn payloads per partition (no
per-row Python)". One ``mapInArrow`` stage; each Arrow batch crosses the
JVM/Python boundary once and the engine parses each payload in-process.

Scale design (SURVEY.md §2-F / §4):

* salted repartition on ``conv_id`` defuses long-conversation skew — safe
  because extraction is per-turn independent;
* the UDF is an iterator-of-batches function, so one Python worker streams
  batches without materializing a partition;
* final ordering is ``sortWithinPartitions(conv_id, turn_idx)`` — a local
  sort, no extra shuffle, giving the stable per-turn ordering the equality
  gate requires.
"""
from __future__ import annotations

import os
import sys
import zipimport
from typing import Optional

from .gather import gather_document
from .heuristics import ExtractConfig, score_fragments, select_main
from .schema import EXTRACTION_SCHEMA

__all__ = ['extract_payload', 'extract_arrow_batches', 'extract_turns']


def _extract_row(payload: Optional[str], config: ExtractConfig) -> tuple:
    """one turn -> (main_text, spans, parse_error, n_nodes, n_text_chars);
    never raises — errors land in the parse_error slot (kernel hot path).

    Uses the streaming gatherer (no DOM build, pipeline/gather.py) — output
    is differentially pinned to the DOM path in tests/test_gather.py."""
    if payload is None:
        return ('', [], 'null', 0, 0)
    if '<' not in payload and '>' not in payload:
        n = len(payload)
        return (payload, [(0, n)] if n else [], None, 0, n)
    try:
        frags, block_boiler, n_nodes = gather_document(
            payload.encode(), mode='html', fix_broken=True, track_spans=True)
    except Exception as exc:  # noqa: BLE001 - per-turn containment
        return ('', [], f'{type(exc).__name__}: {exc}', 0, 0)
    got = select_main(score_fragments(frags, block_boiler), n_nodes, config)
    return (got.main_text, got.spans, None, got.n_nodes, got.n_text_chars)


def extract_payload(payload: Optional[str],
                    config: ExtractConfig = ExtractConfig()) -> dict:
    """extract one turn; never raises — errors land in ``parse_error``.

    Deterministic contract (mirrored by the DuckDB oracles in
    __spark_entry__.py):

    * None -> empty output with ``parse_error='null'``;
    * no ``<`` and no ``>`` in the payload -> identity fast path
      (``main_text`` = payload, one full-range span);
    * otherwise parse (HTML mode, fix_broken) + heuristics; any engine
      exception is captured per turn as ``type: message``.
    """
    main_text, spans, parse_error, n_nodes, n_text_chars = _extract_row(
        payload, config)
    return dict(main_text=main_text, spans=list(spans),
                parse_error=parse_error, n_nodes=n_nodes,
                n_text_chars=n_text_chars)


def _stat_keyed_zip_invalidation() -> None:
    """re-read a zip archive on ``invalidate_caches()`` only if it changed.

    PySpark's worker invalidates import caches at the start of every task;
    before CPython 3.13 each cached zipimporter then re-reads its archive's
    whole directory (16 of them over pyspark.zip, py4j and the spark-core
    jar: ~0.26 s of CPU a task). CPython 3.13 reads lazily (``_get_files``)
    and is left alone. Here an archive is re-read only when its (mtime_ns,
    size, inode) moved since its last read; installing reads each archive
    once, so no directory older than the hook is trusted.
    """
    cls = zipimport.zipimporter
    reread, read_at = cls.invalidate_caches, {}
    if hasattr(cls, '_get_files') or hasattr(reread, '__wrapped__'):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is None or files is None or read_at.get(self.archive) != key:
            reread(self)
            read_at[self.archive] = key
        else:
            self._files = files

    invalidate_caches.__wrapped__ = reread
    cls.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder.invalidate_caches()


def extract_arrow_batches(batches, config: ExtractConfig = ExtractConfig()):
    """mapInArrow kernel: pyarrow RecordBatch in/out, no pandas layer.

    Skipping the Arrow->pandas->Arrow conversions roughly halves the
    per-batch overhead: input strings come out once via ``to_pylist`` and
    results go back as arrays built directly.
    """
    import pyarrow as pa

    _stat_keyed_zip_invalidation()
    for batch in batches:
        cols = batch.schema.names
        conv = batch.column(cols.index('conv_id'))
        turn = batch.column(cols.index('turn_idx'))
        texts = batch.column(cols.index('text')).to_pylist()
        n = len(texts)
        main_text = [None] * n
        perr = [None] * n
        nodes = [0] * n
        chars = [0] * n
        raw = [0] * n
        # spans go out as a ListArray built from flat offset/start/end
        # columns — no per-span python dicts in the hot loop
        starts: list = []
        ends: list = []
        offsets = [0] * (n + 1)
        run = _extract_row
        for i, t in enumerate(texts):
            mt, spans, pe, nn, nc = run(t, config)
            main_text[i] = mt
            perr[i] = pe
            nodes[i] = nn
            chars[i] = nc
            raw[i] = len(t) if t is not None else 0
            for s, e in spans:
                starts.append(s)
                ends.append(e)
            offsets[i + 1] = len(starts)
        span_struct = pa.StructArray.from_arrays(
            [pa.array(starts, pa.int32()), pa.array(ends, pa.int32())],
            names=['start', 'end'])
        span_arr = pa.ListArray.from_arrays(
            pa.array(offsets, pa.int32()), span_struct)
        yield pa.RecordBatch.from_arrays(
            [conv, turn,
             pa.array(main_text, pa.string()),
             span_arr,
             pa.array(perr, pa.string()),
             pa.array(nodes, pa.int32()),
             pa.array(chars, pa.int32()),
             pa.array(raw, pa.int32())],
            names=['conv_id', 'turn_idx', 'main_text', 'spans',
                   'parse_error', 'n_nodes', 'n_text_chars',
                   'n_raw_chars'])


def extract_turns(df,
                  config: ExtractConfig = ExtractConfig(),
                  partitions: Optional[int] = None,
                  salt: int = 16,
                  sort_output: bool = True):
    """transcripts DataFrame -> extraction DataFrame.

    ``partitions``/``salt`` control the explicit salted repartition; with
    ``partitions=None`` the session's shuffle parallelism is used.
    """
    from .skew import salted_repartition

    cols = df.select('conv_id', 'turn_idx', 'text')
    spread = salted_repartition(cols, partitions, salt=salt)
    out = spread.mapInArrow(lambda it: extract_arrow_batches(it, config),
                            schema=EXTRACTION_SCHEMA)
    if sort_output:
        out = out.sortWithinPartitions('conv_id', 'turn_idx')
    return out
