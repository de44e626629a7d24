"""Shared test utilities: reference import + tree comparison helpers."""
from __future__ import annotations

import os
import random
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REFERENCE = '/root/reference'

if REPO not in sys.path:
    sys.path.insert(0, REPO)
if os.path.isdir(REFERENCE) and REFERENCE not in sys.path:
    sys.path.insert(0, REFERENCE)


def has_reference() -> bool:
    try:
        import pyxml  # noqa: F401
        return True
    except Exception:
        return False


requires_reference = pytest.mark.skipif(
    not has_reference(), reason='reference pyxml not importable')


def run_job(job: str, args) -> dict:
    """run ``pyxml_spark/jobs/<job>.py`` in its own interpreter and return
    the metrics JSON of its last stdout line. A job's ``main`` stops its
    SparkSession, which in-process would also stop any module fixture's
    shared SparkContext."""
    import json
    import subprocess
    path = os.path.join(REPO, 'pyxml_spark', 'jobs', f'{job}.py')
    proc = subprocess.run([sys.executable, path, *args],
                          capture_output=True, text=True)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


# exception-name equivalence between our engine and the reference
ERROR_NAME_MAP = {
    'ComposeError': 'BuilderError',
    'ParseFailure': 'ParserError',
}


def norm_error(exc: BaseException) -> str:
    name = type(exc).__name__
    return ERROR_NAME_MAP.get(name, name)


def tree_shape(root):
    """normalized (tag, text, tail, attrib) pre-order sequence; special-node
    class tags normalize to the class name"""
    out = []
    for node in root.iter():
        tag = node.tag if isinstance(node.tag, str) else type(node).__name__
        out.append((tag, node.text, node.tail, dict(node.attrib)))
    return out


def run_to_shape(parse, payload):
    """('ok', shape) or ('err', normalized exception name)"""
    try:
        return ('ok', tree_shape(parse(payload)))
    except Exception as exc:  # noqa: BLE001 - intentional broad compare
        return ('err', norm_error(exc))


# ---------------------------------------------------------------- corpora

PARSER_FIXTURES = {
    'incomplete_pi': b'\n<document>\n    <p>Paragraph #1</p>\n    <?php echo "<p>Paragraph #2</p>"; >\n    <p>Paragraph #3</p>\n</document>\n',
    'incomplete_start_tag': b'\n<document>\n    <p>Paragraph #1</p>\n    <p class="this is a test" Paragraph #2</p>\n    <p>Paragraph #3</p>\n</document>\n',
    'incomplete_end_tag': b'\n<document>\n    <p>Paragraph #1</p>\n    <p class="this is a test"> Paragraph #2 </p\n    <p>Paragraph #3</p>\n</document>\n',
    'broken_xml': b'\n><document>\n    <p>Paragraph #1</p>\n    <p class="this is a test"> Paragraph #2 </p\n    <p>Paragraph #3</p>\n</document>\n',
    'bad_attributes': b'\n<document>\n  <p attr="a"b" c" d></p>\n</document>\n',
    'edgecase_slashes': b'\n<document>\n    <p class="abc">/</p>/\n    <h1>/Content</h1>\n</document>\n',
    'edgecase_style': b'\n<document>\n    <head>\n        <title>Title</title>\n        <style>.main > .body { color: blue; }</style>\n    </head>\n</document>\n',
    'edgecase_script': b'\n<document>\n    <h1>Script Below</h1>\n    <script type="text/javascript" src="/test.js"></script>\n    <script type="text/javascript">\n        console.log("<<\\"<><>{}[]))");\n    </script>\n</document>\n',
    'edgecase_comment': b'\n<document>\n    <head>Title</head><!---->\n    <body>\n        <div>Content!</div>\n    </body>\n</document>\n',
}

XPATH_DOC = b"""
<document>
    <h1>Article Header</h1>
    <article class="message message-post">
        <span class="threadLabel ">(Thread Name #1)</span>
        <article class="message-body">
            <div class="message message-main">
                <p class="p1">Paragraph #1</p>
                <p>This is <em>Paragraph #2</em></p>
                <a href="https://example.com">Example Link</a>
                <p>Final Paragraph</p>
            </div>
        </article>
    </article>
    <article class="message message-post">
        <span class=" threadLabel">(Thread Name #2)</span>
        <article class="message-body">
            <div class="message message-main">
                <p class="p1">Paragraph #3</p>
                <a href="https://example.com">Example Link #2</a>
                <p>This is <em>Paragraph #4</em></p>
                <p>Final Paragraph Two</p>
            </div>
        </article>
    </article>
    <span class="footer">Footer Span</span>
</document>
"""

EXTRA_PAYLOADS = [
    b'', b'   ', b'plain text only', b'a < b and c > d',
    b'<p a>text</p>', b'<root><x a b="v"/></root>', b'<p a/b>t</p>',
    b'<a>1</a><b>2</b>', b'<p>a < b</p>', b'<!---->x', b'<a><!--x-->t</a>',
    b'<a><!-- long -- comment --->t</a>', b'<!---->',
    b'< p>before</p>', b'<a>t</b></a>', b'<a><b>x</c></a>', b'<>x</>',
    b'<?xml version="1.0" encoding="utf-8"?><a>e</a>',
    b'<!DOCTYPE html><html><body>b</body></html>',
    b'<!DOCTYPE doc [<!ELEMENT doc (#PCDATA)>]><doc>x</doc>',
    b'<a>x &amp;lt; &#xe9; &#233; &#09;</a>', b'<a>&#x1F600;</a>', b'<a>&#zz;</a>',
    b'<a b=1 c = "2" d>z</a>', b'<a>one<em>two</em>tailA</a>',
    b'<ul><li>a<li>b</ul>', b'<html><head><title>T</title>',
    b'<br>', b'<div><br><img src="x"><hr/></div>',
    b'<style>.a > .b { c: "d"; }</style>',
    b'<script>if (a<b) { run("</div>"); }</script>',
    b'<script>x</script',
    b'<x ' + b'a' * 300 + b'="v">t</x>',
    b'<x>' + b'abc ' * 500 + b'</x>',
    b'<x>deep ' + b'<y>' * 60 + b'z' + b'</y>' * 60 + b'</x>',
    b'<a href="https://e.com/x?a=1&amp;b=2">L</a>',
    b'<a title="quote \\" inside">q</a>',
    b'<p attr="a"b" c" d></p>',
    b'<?incomplete pi >', b'<?pi never terminated',
    b'<a><?target some value?></a>',
    b'<a\tb="1"\nc="2">x</a>', b'<a  >x</a  >', b'</a>', b'</ a>',
    b'<a>text</a>trailing', b'trailing<a>text</a>',
    b'\xc3\xa9<a>caf\xc3\xa9</a>',
    b'<a><b>1</b><b>2</b><b>3</b></a>',
]


def dirty_html_corpus(n: int = 120, seed: int = 42):
    """seeded generator of dirty-HTML payloads covering the FIXTURES.md §3.4
    classes: voids, raw-text blocks, unclosed tags, entities, comments,
    doctype, multi-root, bare attrs, stray angle brackets"""
    rng = random.Random(seed)
    voids = ['br', 'img', 'hr', 'input', 'meta', 'link']
    tags = ['div', 'p', 'span', 'a', 'li', 'ul', 'article', 'section', 'h1',
            'h2', 'em', 'strong', 'td', 'table']
    words = ['alpha', 'beta', 'gamma', 'delta', 'text', 'link', 'data',
             'a < b', 'x > y', 'q&a', '&amp;', '&#233;', 'café']
    payloads = []
    for _ in range(n):
        parts = []
        if rng.random() < 0.2:
            parts.append('<!DOCTYPE html>')
        if rng.random() < 0.2:
            parts.append('<!-- top comment -->')
        depth = 0
        opened = []
        for _ in range(rng.randint(3, 18)):
            roll = rng.random()
            if roll < 0.32:
                tag = rng.choice(tags)
                attrs = ''
                if rng.random() < 0.5:
                    attrs = f' class="{rng.choice(words)}"'
                if rng.random() < 0.2:
                    attrs += ' bare'
                if rng.random() < 0.1:
                    attrs += f" title='{rng.choice(words)}'"
                parts.append(f'<{tag}{attrs}>')
                opened.append(tag)
                depth += 1
            elif roll < 0.5 and opened:
                take = rng.randrange(len(opened))
                tag = opened[take] if rng.random() < 0.7 else rng.choice(tags)
                parts.append(f'</{tag}>')
                if opened and opened[-1] == tag:
                    opened.pop()
            elif roll < 0.62:
                parts.append(f'<{rng.choice(voids)}>')
            elif roll < 0.7:
                parts.append(f'<script>var x = "{rng.choice(words)}" < 3;</script>'
                             if rng.random() < 0.5 else
                             '<style>.x > .y { color: red; }</style>')
            elif roll < 0.78:
                parts.append(f'<!-- {rng.choice(words)} -->')
            else:
                parts.append(rng.choice(words))
        payloads.append(''.join(parts).encode())
    return payloads
