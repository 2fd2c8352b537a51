"""Fast implementation of the boilerplate stripper.

Byte-identical to extract/html.py (the HTMLParser-based executable
specification) by mirroring CPython html.parser's tokenization rules
(goahead with end=True, convert_charrefs=True) directly, without the
per-character bookkeeping that makes html.parser slow:

* start tags: the tolerant grammar (locatestarttagend_tolerant +
  check_for_whole_start_tag semantics) — tag names are almost
  unrestricted, quotes only quote inside attribute VALUES, and a
  start tag whose attr soup doesn't parse cleanly is emitted as RAW
  data (parse_starttag's handle_data branch);
* end tags: endtagfind, then the tolerant name fallback (junk between
  name and '>' ignored), '</>' swallowed, else bogus comment;
* comments close at ``--\\s*>`` (not just '-->'); marked sections
  (``<![``) use the keyword table with ``]\\s*]\\s*>`` / ``]\\s*>``
  closers; doctype and bogus declarations consume to the first '>';
* incomplete constructs at end of input are emitted as data up to the
  first '>' (inclusive), else to the next '<', else one char — and a
  lone trailing '<' is dropped (goahead's break);
* a trailing text run whose last 34 chars contain '&' with no
  whitespace/';' after it makes goahead's dangling-charref guard break
  the loop — but the end=True epilogue then flushes the same tail, so
  it is EMITTED either way (one emit here, see the inline comment);
* script/style content is CDATA: only ``</\\s*elem\\s*>`` ends it; a
  missing closer drops the rest of the document.

Known, deliberate divergences from the spec (both pinned by tests):

* inputs where the raw html.parser RAISES (``<![`` with an unknown or
  garbage keyword hits markupbase's AssertionError): this parser never
  raises — it stops scanning and keeps the remainder as data, which
  exactly mirrors what the spec WRAPPER does (segment_blocks catches
  the exception and keeps prior state), so segment-level output is
  identical and the divergence is only vs the raw parser;
* the start-tag work budget: re-scanning tolerant attr soup is
  quadratic in CPython itself (each '<tag' with no closing '>' re-scans
  to EOF).  After the cumulative scan exceeds 64x the document length —
  unreachable for real pages — remaining start-tag attempts take the
  incomplete-construct path directly.  Outputs differ from the spec
  only on inputs where the spec itself is O(n²).

Everything else — blocks, link density, chrome, whitespace collapse —
is the same block model as the spec (imported thresholds below).
"""

from __future__ import annotations

import re
from html import unescape

from .html import (
    _BLOCK_TAGS,
    _CHROME_TAGS,
    _DROP_SUBTREE,
    _WS,
    MAX_LINK_DENSITY,
    MIN_BLOCK_CHARS,
)

# --- CPython html.parser tokenization regexes (html/parser.py) ---------------

_LOCATE_START = re.compile(
    r"""
  <[a-zA-Z][^\t\n\r\f />\x00]*       # tag name
  (?:[\s/]*                          # optional whitespace before attribute name
    (?:(?<=['"\s/])[^\s/>][^\s/=>]*  # attribute name
      (?:\s*=+\s*                    # value indicator
        (?:'[^']*'                   # LITA-enclosed value
          |"[^"]*"                   # LIT-enclosed value
          |(?!['"])[^>\s]*           # bare value
        )
        (?:\s*,)*                    # possibly followed by a comma
      )?(?:\s|/(?!>))*
     )*
   )?
  \s*                                # trailing whitespace
""",
    re.VERBOSE,
)
_TAGFIND_TOL = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*")
_ATTRFIND_TOL = re.compile(
    r"((?<=['\"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*"
    r"('[^']*'|\"[^\"]*\"|(?!['\"])[^>\s]*))?(?:\s|/(?!>))*"
)
_COMMENT_CLOSE = re.compile(r"--\s*>")
_MARKED_CLOSE = re.compile(r"]\s*]\s*>")
_MS_MARKED_CLOSE = re.compile(r"]\s*>")
_ENDTAG_FIND = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_DECLNAME = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
_AMP_TAIL = re.compile(r"[\s;]")

_MARKED_KEYWORDS = {"temp", "cdata", "ignore", "include", "rcdata"}
_MS_KEYWORDS = {"if", "else", "endif"}
_CDATA_ELEMS = ("script", "style")
_CDATA_CLOSERS = {
    e: re.compile(r"</\s*%s\s*>" % e, re.IGNORECASE) for e in _CDATA_ELEMS
}
_LETTERS_EQ = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ=")

_HAS_ENTITY = re.compile(r"&[#a-zA-Z]")

# Clean-tag fast paths.  Each is a strict SUBSET of the tolerant
# grammar chosen so the faithful path provably produces the same
# (endpos, tag, start/startend/end decision): simple name, simply-
# quoted or conservative bare values, no stray '/' or '='.  Anything
# else falls through to the faithful tolerant machinery.
_NAME = r"[a-zA-Z][a-zA-Z0-9]*"
_ATTRS = (
    r"(?:\s+[a-zA-Z][-a-zA-Z0-9_:.]*"
    r"(?:\s*=\s*(?:\"[^\"<>]*\"|'[^'<>]*'|[-a-zA-Z0-9_./:;,#%+]+))?)*"
)
_SIMPLE_OPEN = re.compile(rf"<({_NAME}){_ATTRS}\s*(/?)>")
_SIMPLE_CLOSE = re.compile(rf"</({_NAME})\s*>")

# Document-level clean scan: ONE combined token regex whose start/end
# branches are exactly _SIMPLE_OPEN's and _SIMPLE_CLOSE's grammars,
# plus a doctype branch (consumes to the first '>', as
# parse_html_declaration does) and a catch-all for any other '<'.
# ``m.lastindex`` names the token: 1 start tag (name in group 1),
# 2 startend tag (name in group 1), 3 end tag (name in group 3),
# 4 a '<' no clean token starts at (bail), None doctype.  See the
# fast-path block in extract_main_text_fast for the strict-subset
# equivalence argument.
_CLEAN_ANY = re.compile(
    rf"<(?:({_NAME}){_ATTRS}\s*(?:>|(/)>)"
    rf"|/({_NAME})\s*>"
    r"|![dD][oO][cC][tT][yY][pP][eE][^>]*>"
    r"|())"
)
_START, _STARTEND, _END, _STRAY = 1, 2, 3, 4

# Tag → action bits for the clean scan: one dict probe per token
# instead of lower() plus three set probes.
_DROP, _LINK, _CHROME, _BLOCK, _CDATA, _SKIP = 1, 2, 4, 8, 16, 32


def _tag_bits(tag: str) -> int:
    """Action bits of a lower-case tag name (0 = no effect)."""
    if tag in _DROP_SUBTREE:
        # a drop tag does nothing else (handle_starttag returns early)
        return _DROP | (_CDATA if tag in _CDATA_ELEMS else 0)
    bits = (
        (_LINK if tag == "a" else 0)
        | (_CHROME if tag in _CHROME_TAGS else 0)
        | (_BLOCK if tag in _BLOCK_TAGS else 0)
    )
    if bits & _CHROME and bits & _BLOCK:
        # a chrome BLOCK tag (not menu) fences its subtree off: every
        # block that opens inside it is chrome-tainted (see _CHROME_BODY)
        bits |= _SKIP
    return bits


_ACTION_TAGS = _DROP_SUBTREE | _BLOCK_TAGS | _CHROME_TAGS | {"a"}
# Keyed by the tag name as written, for the action tags in lower, upper
# and capitalized spelling.  A name not found is looked up again
# lower-cased, and a name that is no action tag has no bits.
_TAG_BITS: dict[str, int] = {
    v: _tag_bits(t)
    for t in _ACTION_TAGS
    for v in (t, t.upper(), t.capitalize())
}


def _ascii_ci(word: str) -> str:
    """``word`` matched in either ASCII case without re.IGNORECASE (which
    would also fold U+017F onto 's' and U+212A onto 'k')."""
    return "".join(f"[{c}{c.upper()}]" if c.isalpha() else c for c in word)


# Subtree skips (clean scan).  Some subtrees can contribute no text to
# the output; what survives them is only the state they leave behind.
# When the text up to the first matching closer is a "body" of text and
# clean tokens that leave that state as they found it, the scan jumps
# past the closer.  A body ends early on anything else — a token with
# another effect, a comment, doctype, bogus tag or stray '<' — and the
# subtree is then scanned token by token as usual.
#
# * Chrome (drop_chrome=True only): a clean chrome BLOCK tag (nav,
#   header, footer, aside, form; not menu, which is no block tag) opens
#   a subtree whose blocks are all chrome-tainted, so none of its text
#   can be selected.  Opener and closer both flush the current block,
#   which is all the skip has to do.  _CHROME_BODY allows clean
#   startend tags of any name (handle_startendtag only flushes), clean
#   start/end tags whose effect is at most the flush, and clean
#   <a>...</a> pairs around such content.
# * Drop (every profile): a non-cdata drop tag (head, noscript, svg, ...)
#   emits nothing until its closer, and neither it nor its closer
#   flushes.  _DROP_BODY allows clean tags with no effect at all and
#   complete script/style elements (closed as _CDATA_CLOSERS close
#   them), so the skip changes no state.


def _ci_trie(words) -> str:
    """Alternation of ``words`` (ASCII case-insensitive) grouped by first
    letter, so a name is rejected after one test per first letter."""
    groups: dict[str, list[str]] = {}
    for w in sorted(words):
        groups.setdefault(w[0], []).append(_ascii_ci(w[1:]))
    return "|".join(f"{_ascii_ci(c)}(?:{'|'.join(rest)})" for c, rest in groups.items())


def _name_except(tags) -> str:
    """A clean tag name that is none of ``tags``."""
    return rf"(?!(?:{_ci_trie(tags)})(?![a-zA-Z0-9])){_NAME}"


_FLUSH_ONLY = _name_except(t for t in _ACTION_TAGS if _tag_bits(t) != _BLOCK)
_NEUTRAL = (
    rf"<(?:{_FLUSH_ONLY}{_ATTRS}\s*/?>|{_NAME}{_ATTRS}\s*/>|/{_FLUSH_ONLY}\s*>)"
)
_CHROME_BODY = re.compile(
    rf"[^<]*+(?:(?:<[aA]{_ATTRS}\s*>[^<]*+(?:{_NEUTRAL}[^<]*+)*+</[aA]\s*>"
    rf"|{_NEUTRAL})[^<]*+)*+"
)
_NO_ACTION = _name_except(_ACTION_TAGS)
_CDATA_ELEMENT = "|".join(
    # the closer under re.I, exactly as _CDATA_CLOSERS
    rf"<{_ascii_ci(t)}{_ATTRS}\s*>(?s:.*?)(?i:{_CDATA_CLOSERS[t].pattern})"
    for t in _CDATA_ELEMS
)
_DROP_BODY = re.compile(
    rf"[^<]*+(?:(?:<{_NO_ACTION}{_ATTRS}\s*/?>|</{_NO_ACTION}\s*>"
    rf"|{_CDATA_ELEMENT})[^<]*+)*+"
)
_SUBTREE_CLOSERS = {
    t: re.compile(rf"</{_ascii_ci(t)}\s*>")
    for t in _ACTION_TAGS
    if _tag_bits(t) & _SKIP or _tag_bits(t) == _DROP
}

# start-tag scan budget multiplier (see module docstring)
_SCAN_BUDGET_FACTOR = 64

# A block is one list: [chrome_seen, link_chars, *text_parts].
_CHROME_SEEN, _LINK_CHARS, _PARTS = 0, 1, 2


def extract_main_text_fast(
    html_bytes: bytes | str,
    *,
    min_block_chars: int = MIN_BLOCK_CHARS,
    max_link_density: float = MAX_LINK_DENSITY,
    drop_chrome: bool = True,
) -> str:
    """Tokenize + segment + select.  The keyword thresholds parameterize
    ONLY the block-selection stage (extract/profiles.py preprocessing
    profiles); the defaults reproduce the spec selection exactly — the
    byte-identity contract vs extract/html.py holds at the defaults."""
    if isinstance(html_bytes, (bytes, bytearray)):
        text = bytes(html_bytes).decode("utf-8", errors="replace")
    else:
        text = html_bytes

    blocks: list[list] = []
    current: list | None = None
    drop_depth = 0
    link_depth = 0
    chrome_depth = 0

    def emit(data: str, decode: bool = True) -> None:
        # decode=False mirrors handle_data calls that bypass goahead's
        # unescape (bogus start tags, cdata content)
        nonlocal current
        if drop_depth or not data:
            return
        if current is None:
            current = [chrome_depth > 0, 0]
            blocks.append(current)
        if decode and _HAS_ENTITY.search(data):
            data = unescape(data)
        current.append(data)
        if link_depth > 0:
            # == len(_WS.sub(" ", data).strip()): str.split and re \s
            # agree on the whitespace set for every Unicode codepoint
            # (verified exhaustively; split avoids building the string)
            words = data.split()
            if words:
                current[_LINK_CHARS] += sum(map(len, words)) + len(words) - 1
        if chrome_depth > 0:
            current[_CHROME_SEEN] = True

    def handle_starttag(tag: str) -> None:
        nonlocal current, drop_depth, link_depth, chrome_depth
        if tag in _DROP_SUBTREE:
            drop_depth += 1
            return
        if tag == "a":
            link_depth += 1
        if tag in _CHROME_TAGS:
            chrome_depth += 1
        if tag in _BLOCK_TAGS:
            current = None

    def handle_endtag(tag: str) -> None:
        nonlocal current, drop_depth, link_depth, chrome_depth
        if tag in _DROP_SUBTREE:
            drop_depth = max(0, drop_depth - 1)
            return
        if tag == "a":
            link_depth = max(0, link_depth - 1)
        if tag in _CHROME_TAGS:
            chrome_depth = max(0, chrome_depth - 1)
        if tag in _BLOCK_TAGS:
            current = None

    # ---- document-level clean-scan fast path --------------------------------
    # One combined C-level search per token instead of per-'<' Python
    # dispatch.  STRICT-SUBSET equivalence: the start/end branches are
    # the exact _SIMPLE_OPEN/_SIMPLE_CLOSE grammars (so a token match
    # here produces the same (endpos, tag, decision) the faithful loop
    # would), the doctype branch consumes to the same first '>', and
    # cdata jumps use the same closer regexes.  ANY '<' not consumed by
    # a clean token (bogus tags, comments, PIs, marked sections,
    # incomplete constructs, missing-'>' doctypes) is the first '<' the
    # search meets after the previous token, so it matches the _STRAY
    # catch-all and BAILS: state is reset and the document re-parses
    # through the faithful loop below.  Clean documents (the
    # overwhelming web-scale common case) never touch the per-'<'
    # machinery; irregular ones pay one extra partial scan.
    n = len(text)
    pos = 0
    clean_ok = True
    # hot-loop locals; the inlined emit/handler bodies below are the
    # same logic as emit()/handle_starttag()/handle_endtag() above, with
    # the tag's set memberships read from one _TAG_BITS probe — the
    # functions remain the readable spec for the faithful loop.
    scanner = _CLEAN_ANY.scanner
    scan = scanner(text).search  # resumes after the previous match
    has_entity = _HAS_ENTITY.search
    tag_bits = _TAG_BITS.get
    chrome_body, drop_body = _CHROME_BODY.match, _DROP_BODY.match
    closer_at: dict[str, re.Match | None] = {}

    def subtree_end(tag: str, start: int, body) -> int:
        """End of the first closer of ``tag`` at or after ``start`` when
        the text up to it is ``body``, else -1 (see _SUBTREE_CLOSERS)."""
        # a cached closer is still the first one while it lies ahead:
        # the scan only moves forward
        cm = closer_at.get(tag, False)
        if cm is False or (cm is not None and cm.start() < start):
            cm = closer_at[tag] = _SUBTREE_CLOSERS[tag].search(text, start)
        if cm is None:
            return -1
        cs = cm.start()
        return cm.end() if body(text, start, cs).end() == cs else -1

    while True:
        m = scan()
        if m is None:
            # no '<' left: the rest is one text run
            emit(text[pos:])
            pos = n
            break
        s, e = m.span()
        if s > pos and not drop_depth:
            data = text[pos:s]
            if current is None:
                current = [chrome_depth > 0, 0]
                blocks.append(current)
            if "&" in data and has_entity(data):
                data = unescape(data)
            current.append(data)
            if link_depth:
                words = data.split()
                if words:
                    current[_LINK_CHARS] += sum(map(len, words)) + len(words) - 1
            if chrome_depth:
                current[_CHROME_SEEN] = True
        kind = m.lastindex
        if kind == _END:
            tag = m[3]
            bits = tag_bits(tag)
            if bits is None:
                bits = tag_bits(tag.lower(), 0)
            if bits == _BLOCK:
                current = None
            elif bits:
                if bits & _DROP:
                    if drop_depth:
                        drop_depth -= 1
                else:
                    if bits & _LINK and link_depth:
                        link_depth -= 1
                    if bits & _CHROME and chrome_depth:
                        chrome_depth -= 1
                    if bits & _BLOCK:
                        current = None
        elif kind == _START:
            tag = m[1]
            bits = tag_bits(tag)
            if bits is None:
                bits = tag_bits(tag.lower(), 0)
            if bits == _BLOCK:
                current = None
            elif bits:
                if bits & _DROP:
                    tag = tag.lower()
                    if bits & _CDATA:
                        # script/style: everything up to the closer is
                        # cdata inside a drop subtree, so nothing is
                        # emitted and the closer restores drop_depth
                        cm = _CDATA_CLOSERS[tag].search(text, e)
                        if cm is None:
                            pos = n  # the rest never leaves cdata
                            break
                        pos = cm.end()
                        scan = scanner(text, pos).search
                        continue
                    end = subtree_end(tag, e, drop_body)
                    if end >= 0:
                        pos = end
                        scan = scanner(text, pos).search
                        continue
                    drop_depth += 1
                else:
                    if bits & _SKIP and drop_chrome:
                        end = subtree_end(tag.lower(), e, chrome_body)
                        if end >= 0:
                            current = None
                            pos = end
                            scan = scanner(text, pos).search
                            continue
                    if bits & _LINK:
                        link_depth += 1
                    if bits & _CHROME:
                        chrome_depth += 1
                    if bits & _BLOCK:
                        current = None
        elif kind == _STARTEND:
            bits = tag_bits(m[1])
            if bits is None:
                bits = tag_bits(m[1].lower(), 0)
            if bits & _BLOCK:
                current = None
        elif kind == _STRAY:
            clean_ok = False
            break
        # else: doctype — consumed, nothing emitted
        pos = e
    if clean_ok:
        pos = n  # faithful loop below no-ops
    else:
        blocks.clear()
        current = None
        drop_depth = link_depth = chrome_depth = 0
        pos = 0

    find = text.find
    startswith = text.startswith
    cdata_elem: str | None = None
    scan_budget = _SCAN_BUDGET_FACTOR * n + 4096
    # exhausted-terminator memos: these searches only fail by reaching
    # EOF, so one failure covers every later (smaller) window
    no_comment_close = no_marked_close = no_ms_close = no_gt = False

    # Where goahead breaks with input left, its end=True epilogue
    # flushes the remainder as one handle_data call — unescaped outside
    # cdata, raw inside.  Each break below performs that flush inline.
    while pos < n:
        if cdata_elem is not None:
            # goahead's cdata mode: only the real end tag is interesting
            mm = _CDATA_CLOSERS[cdata_elem].search(text, pos)
            if mm is None:
                # rest never leaves cdata: flushed RAW at close
                emit(text[pos:], decode=False)
                break
            if mm.start() > pos:
                emit(text[pos : mm.start()], decode=False)
            handle_endtag(cdata_elem)
            cdata_elem = None
            pos = mm.end()
            continue

        lt = find("<", pos)
        if lt == -1:
            # goahead's dangling-charref guard ('&' in the last 34 chars
            # with no [\s;] after it) breaks the loop — but the end=True
            # flush then emits the same tail anyway, so it is one emit
            # either way
            emit(text[pos:])
            break
        if lt > pos:
            emit(text[pos:lt])

        c = text[lt + 1 : lt + 2]
        k = -1  # -1 = incomplete construct (resolved below)
        if ("a" <= c <= "z") or ("A" <= c <= "Z"):
            # ---- parse_starttag -------------------------------------
            sm = _SIMPLE_OPEN.match(text, lt)
            if sm is not None:
                tag = sm.group(1).lower()
                if sm.group(2):
                    # startendtag: block flush only
                    if tag in _BLOCK_TAGS:
                        current = None
                else:
                    handle_starttag(tag)
                    if tag in _CDATA_ELEMS:
                        cdata_elem = tag
                pos = sm.end()
                continue
            if scan_budget <= 0:
                pass  # budget exceeded: incomplete path (docstring)
            else:
                m = _LOCATE_START.match(text, lt)
                j = m.end()
                scan_budget -= j - lt
                nxt = text[j : j + 1]
                endpos = -1
                if nxt == ">":
                    endpos = j + 1
                elif nxt == "/":
                    if startswith("/>", j):
                        endpos = j + 2
                    # else: incomplete (check_for_whole_start_tag)
                elif nxt == "" or nxt in _LETTERS_EQ:
                    pass  # incomplete
                else:
                    endpos = j if j > lt else lt + 1
                if endpos >= 0:
                    tm = _TAGFIND_TOL.match(text, lt + 1)
                    ak = tm.end()
                    while ak < endpos:
                        am = _ATTRFIND_TOL.match(text, ak)
                        if am is None:
                            break
                        ak = am.end()
                    end_str = text[ak:endpos].strip()
                    if end_str not in (">", "/>"):
                        # bogus start tag: RAW data (parse_starttag
                        # calls handle_data directly, no unescape)
                        emit(text[lt:endpos], decode=False)
                    else:
                        tag = tm.group(1).lower()
                        if end_str == "/>":
                            # handle_startendtag: block flush only
                            if tag in _BLOCK_TAGS:
                                current = None
                        else:
                            handle_starttag(tag)
                            if tag in _CDATA_ELEMS:
                                cdata_elem = tag
                    k = endpos
        elif c == "/":
            # ---- parse_endtag ---------------------------------------
            sm = _SIMPLE_CLOSE.match(text, lt)
            if sm is not None:
                handle_endtag(sm.group(1).lower())
                pos = sm.end()
                continue
            if not no_gt:
                g = find(">", lt + 1)
                if g == -1:
                    no_gt = True
                else:
                    em = _ENDTAG_FIND.match(text, lt)
                    if em is not None:
                        handle_endtag(em.group(1).lower())
                        k = em.end()
                    else:
                        nm = _TAGFIND_TOL.match(text, lt + 2)
                        if nm is None:
                            if startswith("</>", lt):
                                k = lt + 3
                            else:
                                # parse_bogus_comment from '</'
                                g2 = find(">", lt + 2)
                                k = g2 + 1 if g2 != -1 else -1
                        else:
                            handle_endtag(nm.group(1).lower())
                            # junk between name and '>' is ignored
                            k = find(">", nm.end()) + 1
        elif startswith("<!--", lt):
            # ---- parse_comment: closes at --\s*> --------------------
            if not no_comment_close:
                mm = _COMMENT_CLOSE.search(text, lt + 4)
                if mm is None:
                    no_comment_close = True
                else:
                    k = mm.end()
        elif c == "?":
            # ---- parse_pi: consume to the first '>' -----------------
            if not no_gt:
                g = find(">", lt + 2)
                if g == -1:
                    no_gt = True
                else:
                    k = g + 1
        elif c == "!":
            # ---- parse_html_declaration -----------------------------
            if startswith("<![", lt):
                if lt + 3 == n:
                    pass  # _scan_name at end of buffer: incomplete
                else:
                    dm = _DECLNAME.match(text, lt + 3)
                    if dm is None:
                        # markupbase._scan_name RAISES ("expected name
                        # token"); the spec catches it in segment_blocks
                        # and keeps the blocks parsed so far — mirror by
                        # stopping the scan with no end-of-input flush
                        break
                    if lt + 3 + len(dm.group()) == n:
                        pass  # name runs to end of buffer: incomplete
                    else:
                        name = dm.group().strip().lower()
                        if name in _MARKED_KEYWORDS:
                            if not no_marked_close:
                                mm = _MARKED_CLOSE.search(text, lt + 3)
                                if mm is None:
                                    no_marked_close = True
                                else:
                                    k = mm.end()
                        elif name in _MS_KEYWORDS:
                            if not no_ms_close:
                                mm = _MS_MARKED_CLOSE.search(text, lt + 3)
                                if mm is None:
                                    no_ms_close = True
                                else:
                                    k = mm.end()
                        else:
                            # parse_marked_section's unknown-keyword
                            # AssertionError: same stop-and-keep rule
                            break
            elif text[lt : lt + 9].lower() == "<!doctype":
                if not no_gt:
                    g = find(">", lt + 9)
                    if g == -1:
                        no_gt = True
                    else:
                        k = g + 1
            else:
                # bogus comment/declaration: to the first '>'
                if not no_gt:
                    g = find(">", lt + 2)
                    if g == -1:
                        no_gt = True
                    else:
                        k = g + 1
        elif lt + 1 < n:
            emit("<", decode=False)
            pos = lt + 1
            continue
        else:
            # lone '<' at EOF: goahead breaks; the end=True flush then
            # emits it as (trivially unescaped) data
            emit("<")
            break

        if k < 0:
            # incomplete construct with end=True: emit as data up to
            # the first '>' (inclusive), else the next '<', else 1 char
            if not no_gt:
                g = find(">", lt + 1)
            else:
                g = -1
            if g != -1:
                k = g + 1
            else:
                l2 = find("<", lt + 1)
                k = l2 if l2 != -1 else lt + 1
            emit(text[lt:k])
        pos = k

    kept: list[str] = []
    for b in blocks:
        if drop_chrome and b[_CHROME_SEEN]:
            continue
        # identical to _WS.sub(" ", joined).strip() — see emit() note
        t = " ".join("".join(b[_PARTS:]).split())
        # segment_blocks drops empty blocks before selection
        if not t or len(t) < min_block_chars:
            continue
        if b[_LINK_CHARS] / len(t) > max_link_density:
            continue
        kept.append(t)
    return "\n".join(kept)
