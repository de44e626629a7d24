"""Spark end-to-end tests: extraction equality gate + checkpointed resume.

The equality gate (BASELINE.md): pipeline ``main_text`` per (conv_id,
turn_idx) must equal a driver-side loop applying the *reference* parser plus
the same heuristics over the same payloads, under stable turn ordering.
"""
import os

import pytest

from tests.conftest import has_reference

pyspark = pytest.importorskip('pyspark')


@pytest.fixture(scope='module')
def spark():
    from pyspark.sql import SparkSession
    s = (SparkSession.builder.master('local[4]')
         .appName('pyxml-spark-tests')
         .config('spark.sql.shuffle.partitions', '8')
         .config('spark.sql.execution.arrow.pyspark.enabled', 'true')
         .config('spark.ui.enabled', 'false')
         .getOrCreate())
    yield s
    s.stop()


@pytest.fixture(scope='module')
def turns_pdf():
    from pyxml_spark.pipeline.transcripts import gen_transcripts_pdf
    return gen_transcripts_pdf(400, seed=42)


def reference_oracle_row(payload):
    """what the pipeline must emit for one payload, computed with the
    reference parser (falling back to our engine when unavailable)"""
    from pyxml_spark.pipeline.heuristics import extract_main
    if payload is None:
        return ''
    if '<' not in payload and '>' not in payload:
        return payload
    if has_reference():
        import pyxml.html
        parse = pyxml.html.fromstring
    else:
        from pyxml_spark.engine.html import fromstring as parse
    try:
        root = parse(payload.encode())
    except Exception:  # noqa: BLE001
        return ''
    return extract_main(root, count_nodes=False).main_text


def test_extraction_equality_gate(spark, turns_pdf):
    from pyxml_spark.pipeline import extract_turns, TRANSCRIPTS_SCHEMA
    df = spark.createDataFrame(turns_pdf, schema=TRANSCRIPTS_SCHEMA)
    got = {(r.conv_id, r.turn_idx): r.main_text
           for r in extract_turns(df).collect()}
    assert len(got) == len(turns_pdf)
    mismatches = []
    for row in turns_pdf.itertuples():
        want = reference_oracle_row(row.text)
        have = got[(row.conv_id, row.turn_idx)]
        if want != have:
            mismatches.append((row.conv_id, row.turn_idx,
                               row.text[:60], want[:60], have[:60]))
    assert not mismatches, f'{len(mismatches)} turns differ: {mismatches[:3]}'


def test_output_ordering_stable(spark, turns_pdf):
    """sortWithinPartitions(conv_id, turn_idx) + salted partitioning keeps a
    deterministic global multiset and locally-ordered runs"""
    from pyxml_spark.pipeline import extract_turns, TRANSCRIPTS_SCHEMA
    df = spark.createDataFrame(turns_pdf, schema=TRANSCRIPTS_SCHEMA)
    a = extract_turns(df).orderBy('conv_id', 'turn_idx').collect()
    b = extract_turns(df).orderBy('conv_id', 'turn_idx').collect()
    assert [(r.conv_id, r.turn_idx, r.main_text) for r in a] == \
           [(r.conv_id, r.turn_idx, r.main_text) for r in b]


def test_spans_round_trip_through_arrow(spark, turns_pdf):
    from pyspark.sql import functions as F
    from pyxml_spark.pipeline import extract_turns, TRANSCRIPTS_SCHEMA
    df = spark.createDataFrame(turns_pdf.head(50), schema=TRANSCRIPTS_SCHEMA)
    out = extract_turns(df)
    row = (out.where(F.size('spans') > 0)
           .select('spans').limit(1).collect())
    assert row, 'expected at least one row with spans'
    span = row[0].spans[0]
    assert span.end > span.start >= 0


def test_worker_task_setup_rereads_no_zip(spark):
    """once the kernel has run in a worker, the import-cache invalidation
    PySpark makes at the start of each task re-reads no unchanged zip
    archive (pyspark.zip, py4j, the spark-core jar)"""
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa
        from pyxml_spark.pipeline.extract import extract_arrow_batches
        for _ in batches:
            pass
        list(extract_arrow_batches(iter([])))
        reads = []
        real_read = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real_read(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real_read
        archives = sorted({f.archive for f in sys.path_importer_cache.values()
                           if isinstance(f, zipimport.zipimporter)})
        yield pa.RecordBatch.from_pydict(
            {'archives': [archives], 'reads': [len(reads)]})

    row, = (spark.range(1, numPartitions=1)
            .mapInArrow(probe, 'archives array<string>, reads long')
            .collect())
    assert any(a.endswith('pyspark.zip') for a in row.archives), row.archives
    assert row.reads == 0, row.archives


def test_resume_exactly_once(spark, turns_pdf, tmp_path):
    from pyxml_spark.pipeline import run_with_resume, TRANSCRIPTS_SCHEMA
    inp = os.path.join(tmp_path, 'in.parquet')
    out = os.path.join(tmp_path, 'out.parquet')
    mf = os.path.join(tmp_path, 'manifest.parquet')
    spark.createDataFrame(turns_pdf, schema=TRANSCRIPTS_SCHEMA) \
        .write.parquet(inp)

    # first run covers only part of the buckets ("killed after K buckets")
    r1 = run_with_resume(spark, inp, out, mf, n_buckets=8, max_buckets=3)
    assert r1['buckets_run'] == 3 and r1['remaining'] > 0

    # resume runs the rest; a third run is a no-op
    r2 = run_with_resume(spark, inp, out, mf, n_buckets=8)
    r3 = run_with_resume(spark, inp, out, mf, n_buckets=8, max_buckets=4)
    assert r2['remaining'] == 0
    assert r3['buckets_run'] == 0

    result = spark.read.parquet(out)
    assert result.count() == len(turns_pdf)
    dupes = (result.groupBy('conv_id', 'turn_idx').count()
             .where('count > 1').count())
    assert dupes == 0

    manifest = spark.read.parquet(mf)
    assert manifest.where("status = 'done'").select('bucket') \
        .distinct().count() == 8
    total_rows_in = sum(r.rows_in for r in manifest.collect())
    assert total_rows_in == len(turns_pdf)


def test_metrics_report(spark, turns_pdf):
    from pyxml_spark.pipeline import (TRANSCRIPTS_SCHEMA, extract_turns,
                                      output_metrics,
                                      per_conversation_report)
    df = spark.createDataFrame(turns_pdf.head(100), schema=TRANSCRIPTS_SCHEMA)
    out = extract_turns(df)
    m = output_metrics(out)
    assert m['rows_out'] == 100
    rep = per_conversation_report(out).collect()
    assert sum(r.n_turns for r in rep) == 100


def test_resume_ignores_crashed_partial_bucket(spark, turns_pdf, tmp_path):
    """a bucket present in the output dir but absent from the manifest (a
    crashed run's partial write) must not be marked done by a later run that
    didn't process it, and must be redone (overwritten) eventually"""
    from pyspark.sql import functions as F
    from pyxml_spark.pipeline import (TRANSCRIPTS_SCHEMA, run_with_resume,
                                      with_bucket)
    inp = os.path.join(tmp_path, 'in.parquet')
    out = os.path.join(tmp_path, 'out.parquet')
    mf = os.path.join(tmp_path, 'manifest.parquet')
    df = spark.createDataFrame(turns_pdf, schema=TRANSCRIPTS_SCHEMA)
    df.write.parquet(inp)
    all_buckets = sorted(r.bucket for r in with_bucket(
        df, 8).select('bucket').distinct().collect())
    crashed = all_buckets[-1]

    # run 1 completes the two smallest buckets
    r1 = run_with_resume(spark, inp, out, mf, n_buckets=8, max_buckets=2)
    assert r1['buckets_run'] == 2

    # simulate a crashed run: partial garbage rows for the largest bucket,
    # written to the data dir with NO manifest entry
    garbage = spark.createDataFrame(
        [('conv-zzz', 999, 'PARTIAL', [], None, 1, 1, crashed)],
        'conv_id string, turn_idx int, main_text string, '
        'spans array<struct<start:int,end:int>>, parse_error string, '
        'n_nodes int, n_text_chars int, bucket int')
    garbage.write.mode('append').partitionBy('bucket').parquet(out)

    # run 2 processes two more (smallest pending) buckets - not the crashed
    r2 = run_with_resume(spark, inp, out, mf, n_buckets=8, max_buckets=2)
    assert r2['buckets_run'] == 2
    manifest = spark.read.parquet(mf)
    assert manifest.where(F.col('bucket') == crashed).count() == 0, \
        'crashed bucket must not be manifested by an unrelated run'

    # finishing runs redo the crashed bucket; its garbage is overwritten
    run_with_resume(spark, inp, out, mf, n_buckets=8)
    result = spark.read.parquet(out)
    assert result.where(F.col('main_text') == 'PARTIAL').count() == 0
    assert result.count() == len(turns_pdf)
    assert (result.groupBy('conv_id', 'turn_idx').count()
            .where('count > 1').count()) == 0
