"""Structured Streaming extraction.

The reference has no streaming (SURVEY.md §2-G) — its ``feed()`` API buffers,
it does not incrementally parse. This module is the Spark-native streaming
face of the same extraction operator: ``readStream`` on a transcripts source
-> the identical Arrow-batched extraction kernel -> ``writeStream`` with
checkpointing; optional watermarked per-conversation windowed rollups for
late-arriving turns.

Because extraction is stateless per turn, the batch kernel is reused verbatim
(mapInArrow works on streaming DataFrames); exactly-once delivery comes from
the sink checkpoint, complementing the batch-side bucket manifest.
"""
from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from .extract import extract_arrow_batches
from .heuristics import ExtractConfig
from .schema import EXTRACTION_SCHEMA, TRANSCRIPTS_SCHEMA

__all__ = ['read_transcripts_stream', 'extract_stream',
           'conversation_rollup_stream', 'conversation_progress_stream',
           'session_rollup_stream', 'dedup_stream', 'run_file_stream',
           'run_idempotent_batch_sink', 'read_committed_batches']


def read_transcripts_stream(spark: SparkSession, path: str,
                            max_files_per_trigger: int = 16) -> DataFrame:
    """file-source stream over a transcripts parquet directory"""
    return (spark.readStream
            .schema(TRANSCRIPTS_SCHEMA)
            .option('maxFilesPerTrigger', max_files_per_trigger)
            .parquet(path))


def extract_stream(stream: DataFrame,
                   config: ExtractConfig = ExtractConfig()) -> DataFrame:
    """streaming extraction: same kernel, no repartition (stream partitions
    follow the source; salting is a batch concern)"""
    return stream.select('conv_id', 'turn_idx', 'text').mapInArrow(
        lambda it: extract_arrow_batches(it, config), schema=EXTRACTION_SCHEMA)


def conversation_rollup_stream(stream: DataFrame,
                               watermark: str = '10 minutes',
                               window: str = '5 minutes') -> DataFrame:
    """watermarked per-conversation windowed aggregate over raw turns —
    late turns beyond the watermark are dropped deterministically"""
    return (stream
            .withWatermark('ts', watermark)
            .groupBy(F.window('ts', window), F.col('conv_id'))
            .agg(F.count('*').alias('n_turns'),
                 F.sum(F.length('text')).alias('chars_in')))


def conversation_progress_stream(stream: DataFrame,
                                 timeout_minutes: int = 30) -> DataFrame:
    """custom stateful streaming operator via applyInPandasWithState: tracks
    per-conversation running turn count + extracted char total across
    micro-batches (the streaming analog of the batch metrics rollup).

    State schema: (n_turns long, chars long); emits one row per conversation
    per micro-batch with the running totals.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = ('conv_id string, n_turns long, main_chars long')
    state_schema = 'n_turns long, main_chars long'

    def update(key, pdfs, state):
        from pyxml_spark.pipeline.extract import extract_payload
        n_turns, chars = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n_turns += len(pdf)
            for text in pdf['text']:
                chars += len(extract_payload(text)['main_text'])
        state.update((n_turns, chars))
        yield pd.DataFrame({'conv_id': [key[0]], 'n_turns': [n_turns],
                            'main_chars': [chars]})

    return (stream.select('conv_id', 'turn_idx', 'text')
            .groupBy('conv_id')
            .applyInPandasWithState(update, out_schema, state_schema,
                                    'update',
                                    GroupStateTimeout.NoTimeout))


def session_rollup_stream(stream: DataFrame, gap: str = '2 hours',
                          watermark: str = '4 hours',
                          entity_col: str = 'user_id',
                          value_col: str = 'value') -> DataFrame:
    """streaming sessionization with Spark's built-in gap-based
    ``session_window`` — the idiomatic streaming twin of the batch
    ``pipeline/temporal.sessionize`` operator.

    Boundary semantics (pinned by a planted-tie test — the half-open
    ``[ts, ts+gap)`` intuition is WRONG here): Spark merges *touching*
    per-event windows, so an event at exactly ``last ts + gap`` joins
    the open session; a new session starts only at ``diff > gap`` —
    the same rule as the batch ``pipeline/temporal.sessionize``
    operator. ``window.end`` is ``last ts + gap``. Session state is bounded
    by the watermark horizon: sessions idle past it finalize and leave
    the state store, so state never grows with stream length — the only
    sessionization form that survives an unbounded stream.
    """
    return (stream
            .withWatermark('ts', watermark)
            .groupBy(F.session_window('ts', gap).alias('session_window'),
                     F.col(entity_col))
            .agg(F.count('*').alias('n_events'),
                 F.sum(F.col(value_col).cast('decimal(18,2)'))
                 .cast('double').alias('total_value')))


def dedup_stream(stream: DataFrame, watermark: str = '30 minutes',
                 fingerprint=None) -> DataFrame:
    """streaming exact dedup: drop turns whose content fingerprint was
    already seen within the watermark horizon.

    Built on ``dropDuplicatesWithinWatermark`` so the dedup state store is
    bounded by the event-time horizon (an unbounded ``dropDuplicates``
    would grow state forever at 10^12-turn scale). The fingerprint defaults
    to md5 of the payload — the streaming face of the batch
    ``dedup_exact`` operator; near-dup (MinHash) dedup stays a batch
    concern because band joins need the whole corpus.
    """
    fp = fingerprint if fingerprint is not None \
        else F.md5(F.col('text').cast('binary'))
    return (stream
            .withColumn('fp', fp)
            .withWatermark('ts', watermark)
            .dropDuplicatesWithinWatermark(['fp']))


def run_file_stream(spark: SparkSession, input_path: str, output_path: str,
                    checkpoint_path: str,
                    config: ExtractConfig = ExtractConfig(),
                    timeout_s: Optional[float] = None):
    """end-to-end file stream: returns the query after it stops (bounded
    runs use timeout_s; production runs pass None and manage the query)"""
    out = extract_stream(read_transcripts_stream(spark, input_path), config)
    query = (out.writeStream
             .format('parquet')
             .option('path', output_path)
             .option('checkpointLocation', checkpoint_path)
             .outputMode('append')
             .trigger(availableNow=True)
             .start())
    try:
        if timeout_s is not None:
            query.awaitTermination(timeout_s)
            query.stop()
        else:
            query.awaitTermination()
    finally:
        _stop_if_active(query)
    return query


def _stop_if_active(query) -> None:
    """best-effort orphan-query cleanup for the bounded drains: a drain
    whose awaitTermination raises Python-side (interrupt, py4j socket
    drop) must not leave the JVM query running — and the cleanup itself
    must never replace the in-flight exception (isActive/stop are py4j
    round-trips that also fail when the gateway is the thing that died)."""
    try:
        if query.isActive:
            query.stop()
    except Exception:
        pass


def idempotent_batch_writer(output_path: str):
    """foreachBatch writer with per-batch commit markers: exactly-once
    into a NON-transactional store. The parquet file sink's
    _spark_metadata log covers only append-to-files; production pipelines
    also land micro-batches in stores with no transaction log (object
    stores, plain directories, external tables). Structured Streaming's
    contract there is: a micro-batch CAN be re-delivered after a crash
    between the sink write and the checkpoint commit, and the sink must
    be idempotent BY ``batch_id``. This writer makes any such landing
    idempotent with the classic two-step: (1) ``overwrite`` the
    batch-addressed directory (a crash mid-write is healed by the
    re-delivery overwriting the partial output), (2) drop a _COMMITTED
    marker last; a re-delivered batch that finds its marker is skipped
    without touching files. Returned function is what
    ``writeStream.foreachBatch`` expects.

    foreachBatch functions execute on the DRIVER (the df.write inside
    distributes as a normal job), so the marker check here uses local
    os.path — on a cluster whose sink is an object store, swap the
    marker existence check for the Hadoop FileSystem API; the two-step
    protocol itself is storage-agnostic."""
    import os

    def write_batch(df: DataFrame, batch_id: int) -> None:
        dest = os.path.join(output_path, f'batch={batch_id}')
        marker = os.path.join(dest, '_COMMITTED')
        if os.path.exists(marker):
            return  # re-delivered after a sink-write/ckpt-commit crash
        df.write.mode('overwrite').parquet(dest)
        with open(marker, 'w'):
            pass

    return write_batch


def read_committed_batches(spark: SparkSession,
                           output_path: str) -> DataFrame:
    """THE read side of the idempotent sink: only batch dirs carrying
    their _COMMITTED marker. A bare ``parquet(f'{path}/batch=*')`` would
    see a torn, marker-less directory in exactly the crash window the
    writer exists for (driver died mid df.write, healing re-run not yet
    landed) — partial rows now, the same rows again after the heal.
    Raises if nothing is committed yet rather than inventing a schema."""
    import glob
    import os
    committed = sorted(
        d for d in glob.glob(os.path.join(output_path, 'batch=*'))
        if os.path.exists(os.path.join(d, '_COMMITTED')))
    if not committed:
        raise FileNotFoundError(
            f'no committed batch directories under {output_path}')
    return spark.read.parquet(*committed)


def run_idempotent_batch_sink(spark: SparkSession, input_path: str,
                              output_path: str, checkpoint_path: str,
                              config: ExtractConfig = ExtractConfig(),
                              max_files_per_trigger: int = 16):
    """extraction stream landed through :func:`idempotent_batch_writer`
    (availableNow drain). Read the result back with
    :func:`read_committed_batches` — a half-written, marker-less batch
    dir from a crashed run must stay invisible until its re-delivery
    heals it."""
    out = extract_stream(
        read_transcripts_stream(spark, input_path, max_files_per_trigger),
        config)
    query = (out.writeStream
             .foreachBatch(idempotent_batch_writer(output_path))
             .option('checkpointLocation', checkpoint_path)
             .trigger(availableNow=True)
             .start())
    try:
        query.awaitTermination()
    finally:
        _stop_if_active(query)
    return query
