"""Differential check: the fused pump loop (engine/pump.py) must be
observably identical to the unfused Scanner+EventPump path over the whole
corpus — same trees, same errors, same char spans.  The reference-parity
suites cover fused-vs-pyxml; this one pins fused-vs-unfused so the two
in-repo state machines cannot drift."""
from __future__ import annotations

import pytest

from tests.conftest import (EXTRA_PAYLOADS, PARSER_FIXTURES, dirty_html_corpus,
                            norm_error)
from pyxml_spark.engine.compose import TreeComposer
from pyxml_spark.engine.parse import HTML_VOID, EventPump
from pyxml_spark.engine.pump import pump_document

hypothesis = pytest.importorskip('hypothesis')
from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402

CORPUS = (list(PARSER_FIXTURES.values()) + EXTRA_PAYLOADS
          + dirty_html_corpus(120, seed=42))

MARKUP_CHUNKS = st.sampled_from([
    '<', '>', '/', '=', '"', "'", ' ', '\n', '\t', '!', '?', '-', '[', ']',
    '&', '#', ';', '\\', 'a', 'b', 'p', 'x', 'div', 'span', 'script',
    'style', 'br', 'img', '<p>', '</p>', '<div ', 'class', '="v"', 'text',
    '&amp;', '&lt;', '&#65;', '&#xe9;', '<!--', '-->', '<?', '?>',
    '<!DOCTYPE', 'é', '1', '<a', '</', '<<', '>>',
    # attribute-pair shapes around the pump's regex fast path boundary
    'ab="v"', "cd='x'", 'a="1"', ' b ', 'ef = "w"', 'gh="a&amp;b"',
    'ij="q\\"r"', 'kl="', '="v"', 'mn=o',
])
payloads = st.lists(MARKUP_CHUNKS, min_size=0, max_size=40).map(
    lambda parts: ''.join(parts).encode())


def shape_with_spans(root):
    out = []
    for node in root.iter():
        tag = node.tag if isinstance(node.tag, str) else type(node).__name__
        out.append((tag, node.text, node.tail, dict(node.attrib),
                    getattr(node, 'text_spans', None),
                    getattr(node, 'tail_spans', None)))
    return out


def run_both(payload: bytes, fix_broken: bool, empty, track_spans: bool,
             make_target=TreeComposer):
    """(unfused, fused) outcomes; each side gets a fresh
    ``make_target(fix_broken=...)``"""
    def unfused():
        pump = EventPump(payload, target=make_target(fix_broken=fix_broken),
                         fix_broken=fix_broken, empty=empty,
                         track_spans=track_spans)
        return pump.run()

    def fused():
        return pump_document(payload, make_target(fix_broken=fix_broken),
                             fix_broken=fix_broken, empty=empty,
                             track_spans=track_spans)

    results = []
    for fn in (unfused, fused):
        try:
            results.append(('ok', shape_with_spans(fn())))
        except Exception as exc:  # noqa: BLE001 - intentional broad compare
            results.append(('err', norm_error(exc), str(exc)))
    return results


@pytest.mark.parametrize('fix_broken', [False, True])
@pytest.mark.parametrize('empty', [None, frozenset(HTML_VOID)])
def test_corpus_fused_equals_unfused(fix_broken, empty):
    for payload in CORPUS:
        if isinstance(payload, str):
            payload = payload.encode()
        a, b = run_both(payload, fix_broken, empty, track_spans=False)
        assert a == b, payload
        a, b = run_both(payload, fix_broken, empty, track_spans=True)
        assert a == b, payload


#: declarations are inserted only below a root; CORPUS has none there
DECL_PAYLOADS = [b'<a><!DOCTYPE x>t<!--c-->u<?pi v?>w</a>',
                 b'<a>x</a><!DOCTYPE y><b/>',
                 b'<r><!ENTITY e "v"><p>z</p></r>']


def inserting_composer(fix_broken: bool) -> TreeComposer:
    return TreeComposer(insert_comments=True, insert_declares=True,
                        insert_pis=True, fix_broken=fix_broken)


@pytest.mark.parametrize('fix_broken', [False, True])
@pytest.mark.parametrize('empty', [None, frozenset(HTML_VOID)])
def test_corpus_fused_equals_unfused_inserting_composer(fix_broken, empty):
    """comment / declaration / PI events reach the target the same way on
    both paths: a composer that inserts them as nodes sees one tree"""
    inserted = set()
    for payload in CORPUS + DECL_PAYLOADS:
        if isinstance(payload, str):
            payload = payload.encode()
        a, b = run_both(payload, fix_broken, empty, track_spans=True,
                        make_target=inserting_composer)
        assert a == b, payload
        if a[0] == 'ok':
            inserted.update(tag for tag, *_ in a[1]
                            if tag in ('Comment', 'Declaration',
                                       'ProcessingInstruction'))
    # the corpus must actually exercise all three insert paths
    assert inserted == {'Comment', 'Declaration', 'ProcessingInstruction'}


@settings(max_examples=500, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(payloads, st.booleans(), st.booleans())
def test_fuzz_fused_equals_unfused(payload, fix_broken, html):
    empty = frozenset(HTML_VOID) if html else None
    a, b = run_both(payload, fix_broken, empty, track_spans=True)
    assert a == b, payload
