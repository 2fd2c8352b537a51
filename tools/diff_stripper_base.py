"""Differential check: the working tree's fast stripper vs the same stripper
at a git revision, under every selection profile.

tools/fuzz_stripper.py checks the fast stripper against the html.parser
spec on short random fragments.  This tool needs only git: it loads
``extract/{html,html_fast}.py`` as of ``<base-ref>`` (``git show``) into a
temporary package and compares, page by page, ``extract_main_text_fast``
of both under each of the four ``extract/profiles.PROFILES`` (their
selection thresholds and the chrome rule).

Inputs: ``generate_pages`` HTML from several seeds, and copies of those
pages mutated one to four times — fuzz_stripper's fragments spliced in
at random places, plus mutations aimed at the subtrees the stripper can
skip (nav/header/footer/aside/form and drop subtrees such as head):
nested and unclosed chrome, menu and form, unbalanced links, drop tags,
script/style, comments, bogus tags and stray '<' inside them, closers
spelled ``</NAV >`` or ``</nav\\n>``, upper-case tags, chrome inside drop
subtrees, and entities.

Usage: python tools/diff_stripper_base.py <base-ref> [n_pages]
(default 100000 pages) -> exits non-zero on any mismatch or exception.
"""

from __future__ import annotations

import math
import random
import re
import sys
import tempfile
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tools"))

from _gitbase import load_base  # noqa: E402

MODULES = ("html", "html_fast")


# --- inputs -------------------------------------------------------------------

CHROME = ("nav", "header", "footer", "aside", "form", "menu")
DROP = ("head", "noscript", "template", "svg", "select", "button", "iframe", "textarea")
INSIDE = [
    "<a href='/x'>x</a>", "<a href=/y>", "</a>", "<a/>", "<A HREF='/z'>Z</A>",
    "<script>var s = '</nav>';</script>", "<style>p{}</style>", "<SCRIPT>x</SCRIPT >",
    "<script>never closed", "<!-- c -->", "<!-- </nav> -->", "<!x>", "<?pi?>", "<",
    "< a", "a < b", "<p>", "</p>", "<br/>", "<div class='d'>", "</div>", "<span>s</span>",
    "<button>b</button>", "<select><option>o</option></select>", "<button>",
    "</select>", "<menu>m</menu>", "<menu>", "</menu>", "<nav>n</nav>", "<nav>",
    "</nav>", "<form><input name=q></form>", "<header>h</header>", "&amp; &lt;x",
    "&nbsp;", "<p data-x=\"a>b\">q</p>", "<b id='q'>", "<![CDATA[x]]>",
    "<!doctype html>", "<img src=a.png/>", "<head>", "</head>", "<title>t</title>",
    "</NAV >", "</nav\n>", "</ nav>", "</nav x>", "<noscript><nav>x</nav></noscript>",
    "Total $9.99", " ", "\n",
]


def _tags(html: str, name: str):
    return [m.start() for m in re.finditer(f"<{name}[\\s>]", html)]


def _token_edge(rng: random.Random, html: str, lo: int, hi: int) -> int:
    """A random position in [lo, hi] that starts or ends a token (or, now
    and then, any position)."""
    if rng.random() < 0.2:
        return rng.randint(lo, hi)
    edges = [lo, hi] + [k for k in range(lo, hi) if html[k] == "<"]
    edges += [k + 1 for k in range(lo, hi) if html[k] == ">"]
    return rng.choice(edges)


def _insert(rng: random.Random, html: str, piece: str) -> str:
    i = _token_edge(rng, html, 0, len(html))
    return html[:i] + piece + html[i:]


def mutate_fragment(rng, html):
    from fuzz_stripper import FRAGMENTS

    return _insert(rng, html, rng.choice(FRAGMENTS))


def mutate_piece(rng, html):
    """Splice a piece anywhere, e.g. menu or a link inside a paragraph."""
    return _insert(rng, html, rng.choice(INSIDE))


def mutate_inside_subtree(rng, html):
    """Splice a piece between a chrome or drop opener and its closer."""
    name = rng.choice(CHROME[:4] + ("head",))
    opens = _tags(html, name)
    if not opens:
        return _insert(rng, html, f"<{name}>{rng.choice(INSIDE)}</{name}>")
    i = html.index(">", rng.choice(opens)) + 1
    j = html.find(f"</{name}", i)
    i = _token_edge(rng, html, i, len(html) if j < 0 else j)
    return html[:i] + rng.choice(INSIDE) + html[i:]


def mutate_closer(rng, html):
    """Respell, drop or duplicate a chrome/drop closer."""
    name = rng.choice(CHROME[:4] + ("head",))
    closers = [m.start() for m in re.finditer(f"</{name}>", html)]
    if not closers:
        return html
    i = rng.choice(closers)
    end = i + len(name) + 3
    new = rng.choice([
        f"</{name.upper()} >", f"</{name}\n>", f"</{name.title()}\t>", "",
        f"</{name}></{name}>", f"</{name} x>", f"</{name}/>", f"</ {name}>",
    ])
    return html[:i] + new + html[end:]


def mutate_nest(rng, html):
    """Nest a chrome subtree in the same tag, in menu/form, or in a drop tag."""
    name = rng.choice(CHROME[:4])
    opens = _tags(html, name)
    if not opens:
        return html
    i = rng.choice(opens)
    j = html.find(f"</{name}>", i)
    if j < 0:
        return html
    j += len(name) + 3
    outer = rng.choice((name, "menu", "form") + DROP[1:])
    return html[:i] + f"<{outer}>" + html[i:j] + f"</{outer}>" + html[j:]


def mutate_case(rng, html):
    """Upper-case (or title-case) every tag name of one kind."""
    name = rng.choice(CHROME[:4] + ("a", "p", "head", "script", "style", "li"))
    cased = rng.choice([name.upper(), name.title()])
    return re.sub(f"(</?){name}(?=[\\s>/])", lambda m: m[1] + cased, html)


MUTATIONS = (mutate_fragment, mutate_piece, mutate_piece, mutate_inside_subtree,
             mutate_inside_subtree, mutate_closer, mutate_nest, mutate_case)


def web_pages(n: int) -> list[str]:
    from receipt_scanner_spark.extract.sniff import sniff_format
    from receipt_scanner_spark.sources.pages import generate_pages

    out: list[str] = []
    seed = 1
    while len(out) < n:
        pages, _ = generate_pages(max(50, min(2000, math.ceil((n - len(out)) * 1.2))), seed=seed)
        out += [bytes(h).decode("utf-8", "replace") for h in pages["html"]
                if h is not None and sniff_format(bytes(h)) == "html"]
        seed += 1
    return out[:n]


def mutated_pages(pages: list[str], n: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        html = rng.choice(pages)
        for _ in range(rng.randint(1, 4)):
            html = rng.choice(MUTATIONS)(rng, html)
        out.append(html)
    return out


# --- comparison ---------------------------------------------------------------

def compare(families, base, new) -> Counter:
    from receipt_scanner_spark.extract.profiles import PROFILES

    c: Counter = Counter()
    shown = 0
    for family, pages in families:
        for html in pages:
            c["pages"] += 1
            c[f"pages.{family}"] += 1
            for p in PROFILES.values():
                kw = dict(min_block_chars=p.min_block_chars,
                          max_link_density=p.max_link_density,
                          drop_chrome=p.drop_chrome)
                try:
                    got = new(html, **kw)
                except Exception as exc:  # the working tree must never raise
                    c["new_raised"] += 1
                    if shown < 10:
                        shown += 1
                        print(f"NEW RAISED {type(exc).__name__} [{p.name}]: {html!r}")
                    continue
                try:
                    want = base(html, **kw)
                except Exception:
                    c["base_raised"] += 1
                    continue
                if want == got:
                    c[f"same.{p.name}"] += 1
                else:
                    c["mismatch"] += 1
                    if shown < 10:
                        shown += 1
                        print(f"MISMATCH [{p.name}]: {html!r}\n  base {want!r}\n  new  {got!r}")
    return c


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    ref = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000

    from receipt_scanner_spark.extract.html_fast import extract_main_text_fast as new

    web = web_pages(max(1, n // 4))
    families = [("web", web), ("mutated", mutated_pages(web, n - len(web), seed=11))]
    with tempfile.TemporaryDirectory() as tmp:
        base = load_base(ref, "extract", MODULES, Path(tmp))["html_fast"].extract_main_text_fast
        c = compare(families, base, new)
    for key in sorted(c):
        print(f"{key:24s} {c[key]}")
    bad = c["mismatch"] + c["new_raised"]
    print("FAIL" if bad else "OK", f"({bad} mismatching or raising page-profile pairs)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
