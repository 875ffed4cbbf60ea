"""One-pass HTML tokenizer + tree builder + table fix-up.

A from-scratch, pragmatic subset of the WHATWG HTML5 parsing algorithm,
built to produce the same DOM *shapes that matter for text extraction*
as the reference's lexbor parse + ``fix_dom`` pass
(reference: src/html_parser.cpp:208-328, 486-492):

- void elements, raw-text elements (script/style/...), RCDATA
  (title/textarea) with entity decoding
- ``<span/>`` on a non-void element is an OPEN tag (HTML5 rule the
  reference's goldens depend on: tests/3.html odfLiEnd spans)
- implied end tags: ``p`` closed by block starts, ``li``/``dd``/``dt``
  chains, table cell/row structure with implicit ``tbody``
- foster parenting: non-table content inside table context is moved
  before the table at build time (spec behavior), while
  style/script/template stay inside the table and are relocated by
  the fix-up afterwards — this two-stage split reproduces the
  reference's event order (verified against its ``misplaced_tags``
  unit test expectations)
- the fix-up replicates the reference's post-parse WHATWG
  table-insertion-mode pass exactly (everything that is not
  caption/thead/tbody/tfoot/tr/td/th is moved to just before the
  table element, post-order)

The pass is built for few interpreter steps per token:

- :func:`tokenize` runs one compiled regex per tag; a tag whose
  attributes parse cleanly is matched whole, and its attribute text is
  kept raw and only parsed (:func:`parse_attrs`) for the elements whose
  attributes the event walk reads.  Tokens are plain ``str`` (text) and
  ``(name, attrs)`` tuples, where ``attrs is None`` marks an end tag.
- the builder is one loop over the tokens.  Elements are tuples
  ``(name, attrs, kids)``; table / tbody / thead / tfoot / tr carry two
  more slots, ``(..., pre, parent)``, where ``pre`` holds the nodes that
  precede the element in its parent.  Foster parenting and the fix-up
  append to ``pre`` instead of searching and shifting the parent's
  child list, and one splice per parent at the end puts every node in
  final document order — linear however many nodes a table sheds.
- the open-element stack keeps per-name counts (unmatched end tags are
  rejected in O(1)) and lazily pruned ``<p>`` / scope-boundary indices
  (``<p>``-closing is O(1), not a walk down a deep stack).
"""

from __future__ import annotations

import html as _htmlmod
import re

VOID_ELEMENTS = frozenset(
    "area base basefont bgsound br col embed frame hr img input keygen "
    "link meta param source track wbr".split()
)
RAWTEXT_ELEMENTS = frozenset("script style xmp iframe noembed noframes".split())
RCDATA_ELEMENTS = frozenset(("title", "textarea"))

# start tags that close an open <p> (WHATWG in-body rules)
P_CLOSERS = frozenset(
    "address article aside blockquote center details dialog dir div dl "
    "fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header "
    "hgroup hr main menu nav ol p plaintext pre section summary table "
    "ul li dd dt listing xmp".split()
)
HEAD_CONTENT = frozenset(
    "base basefont bgsound link meta noscript script style template title".split()
)
TABLE_SECTIONS = frozenset(("tbody", "thead", "tfoot"))
TABLE_SCOPE_STOPS = frozenset(("table", "td", "th", "caption", "html"))
# tags ignored when they appear outside any table (WHATWG in-body: ignore)
TABLE_ONLY_TAGS = frozenset(
    "caption col colgroup tbody tfoot thead tr td th".split()
)
#: elements that carry the (pre, parent) slots and get the table fix-up
TABLE_MODE = frozenset(("table", "tr")) | TABLE_SECTIONS
#: current-node names that put the builder in table context (foster
#: parenting applies)
_TABLE_CONTEXT = TABLE_MODE | {"colgroup"}
_LI_STOPS = frozenset(
    ("ul", "ol", "dl", "table", "td", "th", "caption", "html", "body", "div")
)
_A_STOPS = frozenset(("td", "th", "caption", "table", "html", "body", "div", "p"))
#: start tags that need more than "append to the current node" in body
#: (everything else takes the builder's fast path)
_SPECIAL_START = (
    frozenset(("html", "head", "body", "a")) | P_CLOSERS | TABLE_ONLY_TAGS
)
#: the builder's root, body and the ignored head: end tags never pop them
_NEVER_POPPED = frozenset(("html", "body", "head"))
_HTML_WS = " \t\n\r\f"

# -- tokenizer ---------------------------------------------------------

_TAG_NAME_RE = re.compile(r"[a-zA-Z][^\t\n\f />]*")
_ATTR = (
    r"""[\t\n\f\r /]*([^\t\n\f\r /><=][^\t\n\f\r /><=]*)"""
    r"""(?:[\t\n\f\r ]*=[\t\n\f\r ]*("[^"]*"|'[^']*'|[^\t\n\f\r >]*))?"""
)
_ATTR_RE = re.compile(_ATTR)
# the same attribute, matched atomically: exactly what a standalone
# _ATTR_RE match at that position consumes, never backtracked into
_ATTR_ATOMIC = (
    r"""[\t\n\f\r /]*+[^\t\n\f\r /><=]++"""
    r"""(?:[\t\n\f\r ]*+=[\t\n\f\r ]*+(?>"[^"]*+"|'[^']*+'|[^\t\n\f\r >]*+))?+"""
)
#: one search per markup construct; ``lastindex`` says which:
#: 2 start tag with well-formed attributes (name, raw attribute text),
#: 3 end tag, 4 comment, 5 any other start tag (attribute loop),
#: None doctype / processing instruction / bogus comment (skipped)
_MARKUP_RE = re.compile(
    r"<(?:([a-zA-Z][^\t\n\f />]*+)((?:" + _ATTR_ATOMIC + r")*+)[\t\n\f\r /]*+>"
    r"|/([a-zA-Z][^\t\n\f />]*+)[^>]*+>?"
    r"|(!--)"
    r"|[!?/][^>]*+>?"
    r"|([a-zA-Z]))"
)
_RAW_CLOSE_RE = {
    name: re.compile(r"</" + name + r"[\t\n\f\r />]", re.I)
    for name in RAWTEXT_ELEMENTS | RCDATA_ELEMENTS
}


def _unescape(s: str) -> str:
    if "&" not in s:
        return s
    return _htmlmod.unescape(s)


def parse_attrs(attrs) -> dict:
    """Attribute dict of a start tag: ``attrs`` is the raw attribute
    text :func:`tokenize` kept, or a dict it already parsed.  Names are
    lower-cased, the first occurrence wins, values are entity-decoded."""
    if attrs.__class__ is dict:
        return attrs
    out = {}
    for aname, aval in _ATTR_RE.findall(attrs):
        aname = aname.lower()
        if aname in out:
            continue
        if aval[:1] in ('"', "'"):
            aval = aval[1:-1]
        out[aname] = _unescape(aval)
    return out


def _start_tag_loop(s: str, lt: int):
    """Start tag at ``lt`` whose attributes do not parse cleanly
    (stray ``<``/``=``, or no closing ``>`` before the end of input):
    step through them one at a time.  Returns (name, attrs, end)."""
    n = len(s)
    m = _TAG_NAME_RE.match(s, lt + 1)
    name = m.group(0).lower()
    j = m.end()
    attrs = {}
    while j < n:
        c = s[j]
        if c == ">":
            j += 1
            break
        if c == "/" and s[j + 1 : j + 2] == ">":
            j += 2
            break
        am = _ATTR_RE.match(s, j)
        if am and am.group(1):
            aname = am.group(1).lower()
            aval = am.group(2)
            if aval is None:
                aval = ""
            elif aval[:1] in ('"', "'"):
                aval = aval[1:-1]
            if aname not in attrs:
                attrs[aname] = _unescape(aval)
            j = am.end()
        else:
            j += 1
    else:
        j = n
    return name, attrs, j


def tokenize(s: str) -> list:
    """Token list of ``s``: a ``str`` is text (entity-decoded outside
    raw-text elements), ``(name, attrs)`` a start tag and ``(name,
    None)`` an end tag.  ``attrs`` is the raw attribute text (see
    :func:`parse_attrs`) or an already parsed dict.  Comments, doctypes
    and PIs are dropped; a self-closing slash is ignored.

    One ``finditer`` runs until a construct that moves the scan
    position itself (comment, raw-text element, start tag for the
    attribute loop); it restarts after that construct."""
    out = []
    push = out.append
    finditer = _MARKUP_RE.finditer
    unescape = _htmlmod.unescape
    pos = 0
    n = len(s)
    while True:
        for m in finditer(s, pos):
            lt = m.start()
            if lt > pos:
                t = s[pos:lt]
                push(unescape(t) if "&" in t else t)
            kind = m.lastindex
            pos = m.end()
            if kind == 2:
                name, attrs = m.group(1, 2)
                name = name.lower()
                if name not in _RAW_CLOSE_RE:
                    push((name, attrs))
                    continue
            elif kind == 3:
                push((m.group(3).lower(), None))
                continue
            elif kind is None:
                continue
            break
        else:
            break
        if kind == 4:
            end = s.find("-->", lt + 4)
            pos = (end + 3) if end != -1 else n
            continue
        if kind == 5:
            name, attrs, pos = _start_tag_loop(s, lt)
        push((name, attrs))
        close = _RAW_CLOSE_RE.get(name)
        if close is not None:
            cm = close.search(s, pos)
            if cm:
                raw = s[pos : cm.start()]
                gt = s.find(">", cm.start() + 1)
                pos = (gt + 1) if gt != -1 else n
            else:
                raw = s[pos:]
                pos = n
            if raw:
                push(_unescape(raw) if name in RCDATA_ELEMENTS else raw)
            push((name, None))
    if pos < n:
        push(_unescape(s[pos:]))
    return out


# -- tree builder ------------------------------------------------------


def _new_node(name, attrs, parent):
    if name in TABLE_MODE:
        return (name, attrs, [], [], parent)
    return (name, attrs, () if name in VOID_ELEMENTS else [])


def _truncate(stack, counts, idx):
    for node in stack[idx:]:
        counts[node[0]] -= 1
    del stack[idx:]


def _pop_to(stack, counts, names, inclusive=False, stops=TABLE_SCOPE_STOPS):
    """Pop until the current node is the nearest of ``names`` (then
    optionally pop it too), unless a ``stops`` element is nearer.
    Returns True when found."""
    for idx in range(len(stack) - 1, 0, -1):
        nm = stack[idx][0]
        if nm in names:
            _truncate(stack, counts, idx if inclusive else idx + 1)
            return True
        if nm in stops:
            return False
    return False


class _Builder:
    """Open-element stack and document nodes of one parse."""

    __slots__ = (
        "stack", "counts", "p_idx", "b_idx", "table_nodes", "body",
    )

    def __init__(self, html, body):
        self.stack = [html]
        self.counts = {"html": 1}
        self.p_idx = []   # open <p> stack indices (lazily pruned)
        self.b_idx = []   # table/td/th/caption scope boundaries
        self.table_nodes = []  # table-mode elements, creation order
        self.body = body

    def insert(self, name, attrs):
        stack = self.stack
        top = stack[-1]
        node = _new_node(name, attrs, top)
        top[2].append(node)
        if name in TABLE_MODE:
            self.table_nodes.append(node)
        if name not in VOID_ELEMENTS:
            if name == "p":
                self.p_idx.append(len(stack))
            elif name in ("table", "td", "th", "caption"):
                self.b_idx.append(len(stack))
            counts = self.counts
            counts[name] = counts.get(name, 0) + 1
            stack.append(node)

    def enter_body(self):
        """Switch to the body phase: body goes on the stack unless an
        element from the head phase is still open.  Returns True."""
        if len(self.stack) == 1:
            self.counts["body"] = 1
            self.stack.append(self.body)
        return True

    def foster(self, node):
        """Put ``node`` just before the nearest open table."""
        for item in reversed(self.stack):
            if item[0] == "table":
                item[3].append(node)
                return
        self.body[2].append(node)

    def close_p(self):
        n = len(self.stack)
        p_idx = self.p_idx
        while p_idx and p_idx[-1] >= n:
            p_idx.pop()
        if not p_idx:
            return
        b_idx = self.b_idx
        while b_idx and b_idx[-1] >= n:
            b_idx.pop()
        if p_idx[-1] > (b_idx[-1] if b_idx else 0):
            _truncate(self.stack, self.counts, p_idx.pop())

    def table_start(self, name, attrs):
        """Start tag while the current node is table structure."""
        stack, counts = self.stack, self.counts
        if name in ("caption", "colgroup") or name in TABLE_SECTIONS:
            _pop_to(stack, counts, ("table",))
        elif name == "col":
            if stack[-1][0] != "colgroup":
                _pop_to(stack, counts, ("table",))
                self.insert("colgroup", "")
        elif name == "tr":
            if not _pop_to(stack, counts, TABLE_SECTIONS):
                _pop_to(stack, counts, ("table",))
                self.insert("tbody", "")
        elif name in ("td", "th"):
            if not _pop_to(stack, counts, ("tr",)):
                if not _pop_to(stack, counts, TABLE_SECTIONS):
                    _pop_to(stack, counts, ("table",))
                    self.insert("tbody", "")
                self.insert("tr", "")
        elif name == "table":
            # spec: implies </table>, new table as sibling
            _pop_to(stack, counts, ("table",), True, ("html",))
        elif name == "form":
            return  # in-table form: inserted and popped; no text effect
        elif name not in ("style", "script", "template"):
            # anything else: foster parent, keep on the open stack
            node = _new_node(name, attrs, None)
            self.foster(node)
            if name not in VOID_ELEMENTS:
                counts[name] = counts.get(name, 0) + 1
                stack.append(node)
            return
        self.insert(name, attrs)


def _build(tokens):
    """Run the tree construction over ``tokens``; returns (html
    element, table-mode elements in creation order)."""
    head = ("head", "", [])
    body = ("body", "", [])
    html = ("html", "", [head, body])
    b = _Builder(html, body)
    stack, counts, p_idx = b.stack, b.counts, b.p_idx
    in_body = False
    for tok in tokens:
        if tok.__class__ is str:
            top = stack[-1]
            if not in_body:
                if top is not html:
                    # inside an explicit head element (title/style/...)
                    top[2].append(tok)
                    continue
                if not tok.strip(_HTML_WS):
                    continue
                in_body = b.enter_body()
                top = body
            if top[0] in _TABLE_CONTEXT and tok.strip(_HTML_WS):
                b.foster(tok)
            else:
                top[2].append(tok)
            continue
        name, attrs = tok
        if attrs is None:
            if stack[-1][0] == name and name not in _NEVER_POPPED:
                stack.pop()  # what every end-tag rule does to a match on top
                counts[name] -= 1
            elif name == "br":
                in_body = in_body or b.enter_body()
                stack[-1][2].append(("br", "", ()))
            elif counts.get(name) and name not in _NEVER_POPPED:
                # the nearest open element of that name, not crossing
                # table/cell bounds (nothing open: nothing to do)
                if name == "table":
                    _pop_to(stack, counts, ("table",), True, ("html",))
                else:
                    _pop_to(stack, counts, (name,), True)
            continue
        if in_body and name not in _SPECIAL_START:
            top = stack[-1]
            if top[0] in _TABLE_CONTEXT:
                b.table_start(name, attrs)
            elif name in VOID_ELEMENTS:
                top[2].append((name, attrs, ()))
            else:
                node = (name, attrs, [])
                top[2].append(node)
                counts[name] = counts.get(name, 0) + 1
                stack.append(node)
            continue
        if name == "html" or name == "head":
            continue
        if not in_body:
            if name in HEAD_CONTENT:
                node = _new_node(name, attrs, None)
                head[2].append(node)
                if name not in VOID_ELEMENTS:
                    counts[name] = counts.get(name, 0) + 1
                    stack.append(node)
                continue
            in_body = b.enter_body()
        if name == "body":
            continue
        if stack[-1][0] in _TABLE_CONTEXT:
            b.table_start(name, attrs)
            continue
        if name in TABLE_ONLY_TAGS:
            continue  # spec: ignore stray table tags in body
        if name in P_CLOSERS:
            if p_idx:
                b.close_p()
            if name == "li":
                _pop_to(stack, counts, ("li",), True, _LI_STOPS)
            elif name == "dd" or name == "dt":
                _pop_to(stack, counts, ("dd", "dt"), True, _LI_STOPS)
            elif name == "table":
                b.insert(name, attrs)
                continue
        elif name == "a":
            # crude adoption agency: close an open <a> first (spec)
            _pop_to(stack, counts, ("a",), True, _A_STOPS)
        top = stack[-1]
        if name in VOID_ELEMENTS:
            top[2].append((name, attrs, ()))
            continue
        node = (name, attrs, [])
        top[2].append(node)
        if name == "p":
            p_idx.append(len(stack))
        counts[name] = counts.get(name, 0) + 1
        stack.append(node)
    return html, b.table_nodes


# ---------------------------------------------------------------------------
# table fix-up: reference src/html_parser.cpp:208-328 replicated exactly
# ---------------------------------------------------------------------------

#: children a table-mode element keeps (the reference's body and row
#: modes fall back to the table mode, so all three keep the same set);
#: any other element child is moved to just before it
_TABLE_KIDS = frozenset(("caption", "tbody", "tfoot", "thead", "td", "th", "tr"))


def fix_tables(table_nodes) -> None:
    """Post-order WHATWG table-mode fix-up, then splice every ``pre``
    list into its parent's children.

    Only table-mode elements can be fixed, and reverse creation order
    visits children before parents — the order of the reference's
    post-order walk.  An element's children are, in order, each child's
    ``pre`` nodes followed by the child itself; the ones it may not
    hold go to its own ``pre``, in order, after what foster parenting
    already put there."""
    for node in reversed(table_nodes):
        moved = node[3]
        kept = []
        for kid in node[2]:
            if kid.__class__ is str:
                kept.append(kid)
                continue
            if len(kid) == 5 and kid[3]:
                for x in kid[3]:
                    if x.__class__ is str or x[0] in _TABLE_KIDS:
                        kept.append(x)
                    else:
                        moved.append(x)
                kid[3].clear()
            if kid[0] in _TABLE_KIDS:
                kept.append(kid)
            else:
                moved.append(kid)
        node[2][:] = kept
    parents = {}
    for node in table_nodes:
        if node[3]:
            parents[id(node[4])] = node[4]
    for parent in parents.values():
        kids = []
        for kid in parent[2]:
            if kid.__class__ is not str and len(kid) == 5 and kid[3]:
                kids += kid[3]
            kids.append(kid)
        parent[2][:] = kids


def parse_html(text: str):
    """Parse HTML text into a DOM and apply the table fix-up.  Returns
    the ``html`` element; its first two children are always ``head``
    and ``body``."""
    html, table_nodes = _build(tokenize(text))
    if table_nodes:
        fix_tables(table_nodes)
    return html
