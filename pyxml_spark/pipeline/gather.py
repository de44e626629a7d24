"""Streaming heuristics gatherer: parse events -> fragments, no DOM.

``GatherComposer`` implements the composer event protocol (so the fused pump
or EventPump can drive it) but instead of building an Element tree it
computes exactly what ``heuristics._gather`` extracts from the finished
tree — ``(fragments, block_boiler, n_nodes)`` — while the document parses.
This skips per-node Element allocation, child-list maintenance and the
post-parse DFS walk on the extraction hot path.

Equivalence argument (differentially tested in tests/test_gather.py by
comparing full ``extract_payload`` output old-vs-new over the dirty corpus
and fuzz inputs):

* fragment context (nearest block / link / skip / boiler) in the final tree
  equals the open-stack context at the element's start event — repairs never
  re-parent existing elements, except the multi-root ``document`` shell;
* the shell case is partition-equivalent to the base block 0: the shell
  becomes parent of every top-level element, so the set of fragments the
  tree walk assigns to the shell's block is exactly the set the stream
  assigns to block 0 (the shell's own ``text='\\n'`` normalizes away); only
  the block *label* differs, which grouping does not observe. The shell
  still counts one node;
* tail fragments take the popped element's parent context = the open-stack
  top after the pop, matching the tree walk's parent-context tail rule;
* settle/repair flows mirror compose.TreeComposer._settle line for line,
  including the reference's kept-buffer quirk on fix_broken double-assign
  (builder.py:47-49): the concatenated text amends the already-emitted
  fragment WITHOUT its spans, and the un-cleared buffer re-joins into the
  next settle exactly like the DOM path.
"""
from __future__ import annotations

from typing import List, Optional

from ..engine.compose import ComposeError
from .heuristics import BLOCK_TAGS, BOILER_TAGS, SKIP_TAGS, _hint_boiler

__all__ = ['GatherComposer', 'gather_document']

# element record slots
_TAG, _TEXT, _TAIL = 0, 1, 2
_BLK, _LNK, _SKP, _BOI = 3, 4, 5, 6
_TIDX, _LIDX = 7, 8


class GatherComposer:
    """composer-protocol sink computing heuristics fragments directly"""

    def __init__(self, fix_broken: bool = True):
        self.fix_broken = fix_broken
        self.fragments: List[list] = []   # [block_id, text, spans, is_link]
        self.block_boiler: List[bool] = [False]
        self.n_nodes = 0
        self.open: List[list] = []
        self.last: Optional[list] = None
        self.frags: List[str] = []
        self.spans: List[tuple] = []
        self.in_tail = False
        self.root_seen = False
        self.wrapped = False
        # fragment indices of tails assigned at root level (empty stack):
        # their block is the NEXT wrapping shell's block — the DOM path
        # re-parents popped roots under the shell retroactively — and if no
        # wrap ever follows they belong to the walk root, whose tail the
        # tree walk never emits
        self._pending_root_tails: List[int] = []

    # ------------------------------------------------------------- internal

    def _emit(self, rec: list, idx_slot: int, block_id: int, text: str,
              spans, is_link: bool, skipped: bool):
        """emit one fragment unless inside a skip subtree; remember its index
        on the element record for repair-time amendment"""
        if skipped or not text:
            return
        rec[idx_slot] = len(self.fragments)
        self.fragments.append([block_id, text, spans, is_link])

    def _settle(self):
        """mirror of compose.TreeComposer._settle against element records"""
        last = self.last
        frags = self.frags
        if last is None:
            if frags:
                self.frags = []
                self.spans = []
            return
        if not frags:
            # empty-buffer settle: assignment of '' with no fragment —
            # the common shape between adjacent structural events
            slot = _TAIL if self.in_tail else _TEXT
            if not last[slot]:
                last[slot] = ''
            elif not self.fix_broken:
                raise ComposeError(
                    'Element tail already assigned' if slot == _TAIL
                    else 'Element text already assigned')
            # fix_broken concat of '' is a no-op; buffer already empty
            return
        text = frags[0] if len(frags) == 1 else ''.join(frags)
        spans = self.spans
        if self.in_tail:
            if last[_TAIL]:
                if self.fix_broken:
                    last[_TAIL] += text
                    # amend the emitted fragment (no spans — DOM path does
                    # not attach them on this branch either); buffer KEPT
                    if last[_LIDX] is not None:
                        self.fragments[last[_LIDX]][1] += text
                    return
                raise ComposeError('Element tail already assigned')
            last[_TAIL] = text
            # tail context = parent of the popped element = current stack top
            if self.open:
                p = self.open[-1]
                self._emit(last, _LIDX, p[_BLK], text, spans, p[_LNK],
                           p[_SKP])
            else:
                # root-level tail: block decided by the next wrap (or killed
                # at close if none comes)
                self._emit(last, _LIDX, -1, text, spans, False, False)
                if last[_LIDX] is not None:
                    self._pending_root_tails.append(last[_LIDX])
        else:
            if last[_TEXT]:
                if self.fix_broken:
                    last[_TEXT] += text
                    if last[_TIDX] is not None:
                        self.fragments[last[_TIDX]][1] += text
                    return
                raise ComposeError('Element text already assigned')
            last[_TEXT] = text
            self._emit(last, _TIDX, last[_BLK], text, spans, last[_LNK],
                       last[_SKP])
        self.frags = []
        self.spans = []

    # ----------------------------------------------------------- event API

    def start(self, tag, attrs, _skip=SKIP_TAGS, _boiler=BOILER_TAGS,
              _block=BLOCK_TAGS, _hint=_hint_boiler, _str=str):
        self._settle()
        if not self.open and self.root_seen:
            if not self.fix_broken:
                raise ComposeError('more than one tree present')
            # synthetic 'document' shell, kept ON the stack so stray end
            # tags can pop it and a later root re-wraps — mirroring the DOM
            # path's repeated _adopt wrapping. The first shell reuses block
            # 0 (label-equivalent partition, module docstring); re-wraps
            # open a fresh block exactly like the tree walk numbering does.
            if self.wrapped:
                sblk = len(self.block_boiler)
                self.block_boiler.append(False)
            else:
                sblk = 0
                self.wrapped = True
            self.n_nodes += 1
            self.open.append(['document', '\n', None, sblk, False, False,
                              False, None, None])
            for idx in self._pending_root_tails:
                self.fragments[idx][0] = sblk
            self._pending_root_tails = []
        parent = self.open[-1] if self.open else None
        if parent is None:
            self.root_seen = True
            blk, lnk, skp, boi = 0, False, False, False
        else:
            self.root_seen = True
            blk, lnk, skp, boi = (parent[_BLK], parent[_LNK], parent[_SKP],
                                  parent[_BOI])
        self.n_nodes += 1
        if type(tag) is _str:
            low = tag.lower()
            if low in _skip:
                skp = True
            if not boi and (low in _boiler or (attrs and _hint(attrs))):
                boi = True
            if low == 'a':
                lnk = True
            if low in _block:
                bb = self.block_boiler
                blk = len(bb)
                bb.append(boi)
            elif boi:
                self.block_boiler[blk] = True
        rec = [tag, None, None, blk, lnk, skp, boi, None, None]
        self.open.append(rec)
        self.last = rec
        self.in_tail = False

    def end(self, tag):
        while True:
            if not self.open:
                if self.fix_broken:
                    return
                raise ComposeError(f'Unexpected End. Tree Is Empty: {tag}')
            self._settle()
            self.last = self.open.pop()
            if self.last[_TAG] != tag:
                if not self.fix_broken:
                    raise ComposeError(
                        f'End Tag Mismatch (Expected {self.last[_TAG]}, '
                        f'Got {tag})')
                deeper = False
                for r in self.open:
                    if r[_TAG] == tag:
                        deeper = True
                        break
                if deeper:
                    continue
            self.in_tail = True
            return

    def startend(self, tag, attrs):
        self.start(tag, attrs)
        self.end(tag)

    def data(self, text, span=None):
        self.frags.append(text)
        if span is not None:
            self.spans.append(span)

    def comment(self, text):  # insert flags are always off on this path
        pass

    def declaration(self, declaration):
        pass

    def pi(self, target, pi):
        pass

    def close(self):
        if self.open:
            if not self.fix_broken:
                raise ComposeError(
                    f'Missing End Tags {[r[_TAG] for r in self.open]}')
            while self.open:
                self.end(self.open[-1][_TAG])
        for idx in self._pending_root_tails:
            # walk-root tail: the tree walk never emits it
            self.fragments[idx][1] = ''
        self._pending_root_tails = []
        if not self.root_seen:
            raise ComposeError('Missing Toplevel Element')
        return self


def gather_document(data, mode: str = 'html', fix_broken: bool = True,
                    track_spans: bool = True):
    """parse one payload straight to (fragments, block_boiler, n_nodes);
    fragments carry (block_id, text, spans, is_link) like heuristics._gather"""
    from ..engine.parse import HTML_VOID
    from ..engine.pump import pump_document

    if isinstance(data, str):
        data = data.encode()
    sink = GatherComposer(fix_broken=fix_broken)
    pump_document(data, sink, fix_broken=fix_broken,
                  empty=HTML_VOID if mode == 'html' else None,
                  track_spans=track_spans)
    return sink.fragments, sink.block_boiler, sink.n_nodes
