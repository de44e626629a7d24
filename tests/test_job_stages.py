"""The jobs' resume policy (jobs/extract.stage_manifests) without Spark: a
stage's output is reused only under --resume, with _SUCCESS present and a
manifest equal to the stage's params."""
import json

from pyxml_spark.jobs.extract import stage_manifests


def _params(stage):
    return {'manifest_version': 1, 'stage': stage, 'input': '/data/in'}


def _written(tmp_path, manifest=None):
    """a stage output dir with _SUCCESS, plus its manifest text if given"""
    out = tmp_path / 'toks.parquet'
    out.mkdir()
    (out / '_SUCCESS').write_text('')
    if manifest is not None:
        (tmp_path / 'toks.parquet.manifest.json').write_text(manifest)
    return str(out)


def test_resume_off_never_committed(tmp_path):
    path = _written(tmp_path, json.dumps(_params('toks')))
    committed, _ = stage_manifests(False, _params)
    assert not committed(path, 'toks')


def test_missing_success_not_committed(tmp_path):
    path = str(tmp_path / 'toks.parquet')
    (tmp_path / 'toks.parquet.manifest.json').write_text(
        json.dumps(_params('toks')))
    committed, _ = stage_manifests(True, _params)
    assert not committed(path, 'toks')


def test_missing_manifest_not_committed(tmp_path):
    # a crash between the stage's write and mark()
    path = _written(tmp_path)
    committed, _ = stage_manifests(True, _params)
    assert not committed(path, 'toks')


def test_corrupt_manifest_not_committed(tmp_path):
    path = _written(tmp_path, '{"stage": "to')
    committed, _ = stage_manifests(True, _params)
    assert not committed(path, 'toks')


def test_equal_params_committed(tmp_path):
    path = _written(tmp_path)
    committed, mark = stage_manifests(True, _params)
    mark(path, 'toks')
    assert committed(path, 'toks')


def test_changed_params_not_committed(tmp_path):
    path = _written(tmp_path)
    _, mark = stage_manifests(True, _params)
    mark(path, 'toks')
    committed, _ = stage_manifests(
        True, lambda stage: {**_params(stage), 'input': '/data/other'})
    assert not committed(path, 'toks')
