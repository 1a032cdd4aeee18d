"""HTML main-content extraction via DOM-heuristic block scoring.

The reference has no HTML stripper (its only formats are PDF and images —
``files/file_formats/pdf.py``, ``image.py``); this operator is mandated by
the build contract (north rule: "HTML/boilerplate stripping via
DOM-heuristic scoring"). The algorithm is a from-scratch reimplementation of
the public boilerpipe / jusText family of heuristics (Kohlschütter et al.,
WSDM 2010):

1. stream-parse the document into *text blocks* delimited by block-level
   tags (stdlib ``html.parser`` — no third-party DOM libs in this image);
2. drop everything under kill-tags (``nav``, ``footer``, ``header``,
   ``aside``, ``script``, ``style``, ...);
3. score each remaining block by **link density** (chars inside ``<a>`` /
   total chars) and length; keep content-like blocks
   (link_density < 0.33, ≥ 1 word);
4. join kept blocks with a single newline, whitespace-normalized.

Spark integration: ``extract_main_content_py`` is the per-span function
of the ``html`` strategy (extractors/strategies.py), run in the pipeline's
one Arrow-batched Python leg. This is the designated slow path — pure
Python, but batched, no per-row Spark overhead, and the parser is
O(len(html)).

The whitespace passes use no regex, for speed: a block's text is
collapsed by ``text.normalize_ws`` (``str.replace``) and its
non-whitespace length is ``len`` minus ``str.count`` of the four class
characters. A differential test pins the output to the regex version's
(``tests/oracle.py``). Most of a span's time is ``html.parser`` itself.
"""

from __future__ import annotations

from html.parser import HTMLParser

from .text import normalize_ws

# Tags whose entire subtree is boilerplate by construction.
KILL_TAGS = frozenset(
    "script style noscript nav footer header aside form button iframe svg "
    "head title select option template".split()
)

# Tags that delimit text blocks.
BLOCK_TAGS = frozenset(
    "p div article section main blockquote pre td th li h1 h2 h3 h4 h5 h6 "
    "figcaption dd dt body table ul ol tr".split()
)

MAX_LINK_DENSITY = 0.33
MIN_WORDS = 1

# self-closing / void elements never nest content
_VOID = frozenset("br hr img meta link input area base col embed source track wbr".split())


class _BlockParser(HTMLParser):
    """Segments an HTML string into (text, n_chars, n_link_chars) blocks."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, int, int]] = []
        self._buf: list[str] = []
        self._link_chars = 0
        self._total_chars = 0
        self._kill_depth = 0
        self._a_depth = 0

    def _flush(self) -> None:
        # collapse and strip EXACTLY the engine's whitespace class: bare
        # .strip() trims all Unicode whitespace (\x0b, \f, NBSP…) — diverges
        # from the JVM/DuckDB trim discipline on exotic-whitespace payloads
        text = normalize_ws("".join(self._buf))
        if text:
            self.blocks.append((text, self._total_chars, self._link_chars))
        self._buf = []
        self._link_chars = 0
        self._total_chars = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _VOID:
            if tag == "br" and self._kill_depth == 0:
                self._buf.append(" ")
            return
        if tag in KILL_TAGS:
            self._kill_depth += 1
            return
        if self._kill_depth:
            return
        if tag == "a":
            self._a_depth += 1
        if tag in BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag: str) -> None:
        if tag in KILL_TAGS:
            self._kill_depth = max(0, self._kill_depth - 1)
            return
        if self._kill_depth:
            return
        if tag == "a":
            self._a_depth = max(0, self._a_depth - 1)
        if tag in BLOCK_TAGS:
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._kill_depth or not data:
            return
        self._buf.append(data)
        # chars outside the engine's whitespace class [ \t\r\n]
        stripped = (
            len(data)
            - data.count(" ")
            - data.count("\t")
            - data.count("\r")
            - data.count("\n")
        )
        self._total_chars += stripped
        if self._a_depth:
            self._link_chars += stripped

    def close(self) -> None:  # flush trailing block
        super().close()
        self._flush()


def extract_main_content_py(html: str) -> str:
    """Pure-Python core (shared by the pipeline and the pytest oracle)."""
    if not html:
        return ""
    parser = _BlockParser()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        # Malformed beyond recovery → quarantine semantics: empty content
        # (the reference raises and fails the task, pdf.py:32-34; in a batch
        # engine a poison row must not kill the job).
        return ""
    kept: list[str] = []
    for text, total, link_chars in parser.blocks:
        if total <= 0:
            continue
        if link_chars / total > MAX_LINK_DENSITY:
            continue
        # word count under the engine's WS class: _flush already collapsed
        # [ \t\r\n]+ to single spaces, so split on the literal space — bare
        # .split() would treat \x1c-\x1f etc. as word breaks and drop
        # blocks whose only content is such a char (norm/trim keep it)
        if len(text.split(" ")) < MIN_WORDS:
            continue
        kept.append(text)
    return "\n".join(kept)
