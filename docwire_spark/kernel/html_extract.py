"""HTML DOM -> document-element event stream.

Replicates the reference's DOM walk and whitespace state machine
(reference: src/html_parser.cpp:406-871) byte-for-byte:

- per text node: ASCII ``\\s+`` -> single space (U+00A0 and all other
  non-ASCII whitespace survive; the C++ std::regex there is ASCII-only
  on bytes, verified by tests/html_parser_tests.cpp U+00A0 case)
- trim-left when the previous char in the inline formatting context is
  an ASCII space or the context is empty
- text is buffered and flushed at every tag; block-level/table tags
  right-trim the buffer and reset the context
- head text suppressed except <style>; <title>/<script>/<iframe>
  content suppressed; CSS ``list-style: none`` on ol/ul/li disables
  list enumeration (the LibreOffice export quirk)

The walk is one linear pass over the tree :func:`dom.parse_html`
returns, with one list iterator per open element.  Tags dispatch
through the ``_OPEN`` / ``_CLOSE`` tables (an event kind, or a marker
for the few tags with state).  Text is gathered raw between two tags
and collapsed once per run — the same bytes as collapsing each text
node, since a run's nodes share one state and whitespace collapsing
composes across node boundaries.  Attributes are parsed only for the
elements whose events carry them.
"""

from __future__ import annotations

from docwire_spark.kernel import events as E
from docwire_spark.kernel.dates import parse_iso8601_or_legacy
from docwire_spark.kernel.dom import parse_attrs, parse_html

_ASCII_WS = " \t\n\r\f\v"
_ASCII_WS_TO_SPACE = str.maketrans("\t\n\r\f\v", "     ")
#: a previous character after which a text run is left-trimmed
_WS_OR_START = _ASCII_WS + "\0"

BLOCK_LEVEL = frozenset(
    "address article aside blockquote details dialog dd div dl dt "
    "fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header "
    "hgroup hr li main nav ol p pre section table ul html body".split()
)
TABLE_ELEMENTS = frozenset("td tr th caption thead tbody tfoot".split())
PARAGRAPH_ELEMENTS = frozenset(("h1", "h2", "h3", "h4", "h5", "h6", "p"))
#: tags that right-trim the pending text run and reset the context
_TRIM_BEFORE = BLOCK_LEVEL | TABLE_ELEMENTS

#: start tag -> event kind (payload: styling), or True for the tags
#: handled one by one in ``_walk``
_OPEN = {
    **dict.fromkeys(PARAGRAPH_ELEMENTS, E.PARAGRAPH),
    "div": E.SECTION, "span": E.SPAN, "table": E.TABLE,
    "caption": E.CAPTION, "tr": E.TABLE_ROW, "td": E.TABLE_CELL,
    "th": E.TABLE_CELL, "li": E.LIST_ITEM, "b": E.BOLD, "u": E.UNDERLINE,
    **dict.fromkeys(
        ("a", "img", "ul", "ol", "br", "meta", "style", "title", "script",
         "iframe"), True,
    ),
}
#: end tag -> event kind (no payload), or True for the flag tags
_CLOSE = {
    **dict.fromkeys(PARAGRAPH_ELEMENTS, E.CLOSE_PARAGRAPH),
    "div": E.CLOSE_SECTION, "span": E.CLOSE_SPAN, "a": E.CLOSE_LINK,
    "table": E.CLOSE_TABLE, "caption": E.CLOSE_CAPTION,
    "tr": E.CLOSE_TABLE_ROW, "td": E.CLOSE_TABLE_CELL,
    "th": E.CLOSE_TABLE_CELL, "ul": E.CLOSE_LIST, "ol": E.CLOSE_LIST,
    "li": E.CLOSE_LIST_ITEM, "b": E.CLOSE_BOLD, "u": E.CLOSE_UNDERLINE,
    **dict.fromkeys(("style", "title", "script", "iframe"), True),
}


def parse_css_list_style(style_text: str):
    """Scan CSS for ``<sel> { list-style: none }`` on li/ul/ol
    (reference html_parser.cpp:406-464, same scanning logic)."""
    turn_off_ul = turn_off_ol = False
    search = 0
    while True:
        found = style_text.find("list-style:", search)
        if found == -1:
            break
        search = found + 11
        style_name = []
        i = found + 11
        while i < len(style_text):
            ch = style_text[i]
            if ch == ";":
                break
            if not ch.isspace():
                style_name.append(ch)
            i += 1
            search += 1
        if "".join(style_name) == "none":
            match_index = 0
            for i in range(found, 0, -1):
                if style_text[i] == "{":
                    match_index = i - 1
                    break
            match = ""
            while match_index >= 0:
                ch = style_text[match_index]
                if ch.isspace():
                    if match:
                        break
                else:
                    match = ch + match
                match_index -= 1
            if match == "li":
                turn_off_ol = turn_off_ul = True
            elif match == "ul":
                turn_off_ul = True
            elif match == "ol":
                turn_off_ol = True
    return turn_off_ul, turn_off_ol


def decode_data_url(src):
    """Decode a base64 ``data:`` URL into (mime, bytes), or None.

    Reference semantics (src/html_parser.cpp:354-377
    ``create_image_source``): require a comma, require ';base64' in
    the pre-comma metadata, reject empty payloads; the mime is the
    metadata up to the first ';' with an octet-stream default.  The
    reference throws on malformed URLs and the caller degrades to the
    alt text — returning None models the same recovery."""
    if not src or not src.startswith("data:"):
        return None
    comma = src.find(",")
    if comma < 0:
        return None
    meta = src[5:comma]
    if ";base64" not in meta:
        return None
    import base64

    try:
        data = base64.b64decode(src[comma + 1:])
    except (ValueError, TypeError):
        return None
    if not data:
        return None
    semi = meta.find(";")
    mime = meta[:semi] if semi > 0 else "application/octet-stream"
    return (mime or "application/octet-stream", data)




def _styling(attrs):
    """Capture (classes, id, style) from the element's attributes
    (reference html_parser.cpp:50-71: class split on single spaces,
    style whitespace-trimmed).  None when all empty — the common case,
    keeping event tuples cheap inside Arrow batches."""
    if not attrs:
        return None
    attrs = parse_attrs(attrs)
    class_str = attrs.get("class")
    classes = class_str.split(" ") if class_str else []
    id_ = attrs.get("id") or ""
    style = (attrs.get("style") or "").strip()
    if not classes and not id_ and not style:
        return None
    return (classes, id_, style)


def _handle_meta(meta, attrs):
    name = attrs.get("name")
    content = attrs.get("content")
    if not name or content is None:
        return
    lname = name.lower()
    if lname in ("author", "dcterms.creator"):
        meta["author"] = content
    elif lname in ("changedby", "dcterms.contributor"):
        meta.setdefault("last_modified_by", content)
    elif lname in ("created", "dcterms.issued"):
        dt = parse_iso8601_or_legacy(content)
        if dt is not None:
            meta["creation_date"] = dt
    elif lname in ("changed", "dcterms.modified"):
        if "last_modification_date" not in meta:
            dt = parse_iso8601_or_legacy(content)
            if dt is not None:
                meta["last_modification_date"] = dt


def _collapse(text):
    """Every run of ASCII whitespace -> one space.  Substring tests and
    ``replace`` run at C speed; a regex substitution steps through
    every character."""
    if "\n" in text or "\t" in text or "\r" in text or "\f" in text or "\v" in text:
        text = text.translate(_ASCII_WS_TO_SPACE)
    while "  " in text:
        text = text.replace("  ", " ")
    return text


def _flush(buf, last, name, append):
    """Emit the text run ``buf`` read since the previous tag, before
    tag ``name``; returns the new last character.  Trimming first and
    then collapsing the inner whitespace runs gives the same bytes as
    collapsing first, on a shorter string."""
    if last in _WS_OR_START:
        buf = buf.lstrip(_ASCII_WS)
        if not buf:
            return last
    if name in _TRIM_BEFORE:
        buf = buf.rstrip(_ASCII_WS)
        if buf:
            append((E.TEXT, _collapse(buf)))
        return "\0"
    text = _collapse(buf)
    append((E.TEXT, text))
    return text[-1]


def _text_content(node):
    out = []
    stack = [iter(node[2])]
    while stack:
        for kid in stack[-1]:
            if kid.__class__ is str:
                out.append(kid)
            else:
                stack.append(iter(kid[2]))
                break
        else:
            stack.pop()
    return "".join(out)


def _walk(roots, events, meta, turn_off_ul, turn_off_ol):
    """Emit the events of each (element, in_head) root in ``roots``,
    the element included.  Iterative (one list iterator per open
    element): crawl pages nest thousands of elements deep, far past
    Python's recursion limit — the reference's lexbor walk is iterative
    too.  Text is collected raw per run and collapsed once at the next
    tag; the title / script / style / head flags only change at tags,
    so ``mode`` (0 keep, 1 drop, 2 style sheet) is recomputed there."""
    append = events.append
    buf = ""
    last = "\0"
    in_title = in_script = in_style = False
    style_text = []
    for root, in_head in roots:
        mode = 1 if in_head else 0
        stack = []
        it = iter((root,))
        while True:
            for node in it:
                if node.__class__ is str:
                    if mode == 0:
                        if buf:
                            buf += node
                        elif last in _WS_OR_START:
                            # the run's left trim, done early: a blank
                            # run then costs no flush at all
                            buf = node.lstrip(_ASCII_WS)
                        else:
                            buf = node
                    elif mode == 2:
                        style_text.append(node)
                    continue
                name = node[0]
                if buf:
                    last = _flush(buf, last, name, append)
                    buf = ""
                op = _OPEN.get(name)
                if op is None:
                    pass
                elif op.__class__ is int:
                    attrs = node[1]
                    append((op, _styling(attrs) if attrs else None))
                else:
                    attrs = parse_attrs(node[1]) if node[1] else {}
                    if name == "a":
                        url = attrs.get("href")
                        if url is not None:
                            if url[:1] == "#" or url.startswith("javascript"):
                                url = ""
                        else:
                            url = ""
                        append((E.LINK, (url, _styling(attrs))))
                    elif name == "img":
                        src = attrs.get("src")
                        ocr_text = None
                        decoded = decode_data_url(src)
                        if decoded is not None:
                            from docwire_spark.kernel.ocr import ocr_image

                            ocr_text = ocr_image(decoded[1])
                        append((E.IMAGE, (
                            attrs.get("alt"), ocr_text, src, _styling(attrs),
                        )))
                    elif name == "ul" or name == "ol":
                        style_type_none = False
                        style_attr = attrs.get("style")
                        if style_attr is not None:
                            if "list-style: none" in style_attr:
                                style_type_none = True
                        elif name == "ol" and turn_off_ol:
                            style_type_none = True
                        elif name == "ul" and turn_off_ul:
                            style_type_none = True
                        list_type = (
                            "none" if style_type_none
                            else ("decimal" if name == "ol" else "disc")
                        )
                        append((E.LIST, (list_type, _styling(attrs))))
                    elif name == "br":
                        last = "\0"
                        append((E.BREAK_LINE, _styling(attrs)))
                    elif name == "meta":
                        _handle_meta(meta, attrs)
                    else:
                        if name == "style":
                            in_style = True
                        elif name == "title":
                            in_title = True
                        else:  # script, iframe
                            in_script = True
                        mode = 1 if in_title or in_script else (
                            2 if in_style else (1 if in_head else 0))
                kids = node[2]
                if mode == 0 and len(kids) == 1 and kids[0].__class__ is str:
                    # the common shape, one text child (<p>text</p>):
                    # text and close in one step (mode 0 rules out the
                    # flag tags, so the close is an event kind or none)
                    last = _flush(kids[0], last, name, append)
                    op = _CLOSE.get(name)
                    if op is not None:
                        append((op, None))
                    continue
                stack.append((name, it))
                it = iter(kids)
                break
            else:
                if not stack:
                    break
                name, it = stack.pop()
                if buf:
                    last = _flush(buf, last, name, append)
                    buf = ""
                op = _CLOSE.get(name)
                if op is None:
                    continue
                if op.__class__ is int:
                    append((op, None))
                    continue
                if name == "style":
                    in_style = False
                    append((E.STYLE, "".join(style_text)))
                    style_text = []
                elif name == "title":
                    in_title = False
                else:  # script, iframe
                    in_script = False
                mode = 1 if in_title or in_script else (
                    2 if in_style else (1 if in_head else 0))


def html_to_events(text: str):
    """Parse HTML (already UTF-8 text) and return (events, meta dict).

    Event stream mirrors reference html_parser::parse:
    document ... close_document.
    """
    html = parse_html(text)
    head, body = html[2][0], html[2][1]
    turn_off_ul = turn_off_ol = False
    if head[2]:
        head_text = _text_content(head)
        if head_text:
            turn_off_ul, turn_off_ol = parse_css_list_style(head_text)
    events = [(E.DOCUMENT, None)]
    meta = {}
    _walk(((head, True), (body, False)), events, meta, turn_off_ul, turn_off_ol)
    events.append((E.CLOSE_DOCUMENT, None))
    return events, meta
