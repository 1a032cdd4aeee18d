"""HTML → Markdown structuring (structure-PRESERVING extraction).

The boilerplate stripper (``extractors/html.py``) flattens main content to
plain text; this module is the other half of the north rule's
"Markdown/JSON structuring" (the reference emits markdown from its OCR
strategies — ``extract/strategies/easyocr.py`` returns page markdown and
``examples/example-mri-result.md`` shows the target shape): convert an HTML
document into Markdown that KEEPS headings, lists, links, emphasis, and
quotes, so downstream training data retains document structure instead of a
bag of sentences.

Contract (deterministic, mirrored exactly by the DuckDB oracle in
``__spark_entry__._html_md_sql``):

1. subtrees under kill-tags (``nav footer header aside script style …`` —
   the same ``KILL_TAGS`` as the boilerplate stripper) are dropped;
2. block structure: ``h1..h6`` → ``#``·level + space, ``li`` → ``- ``
   (ordered and unordered alike; nesting is flattened), ``blockquote`` →
   ``> `` per nesting level, every other block tag → plain paragraph;
   consecutive list items join with ONE newline, everything else with a
   blank line;
3. inline markup: ``<a href=H>t</a>`` → ``[t](H)`` (plain ``t`` when the
   href is empty), ``<strong>/<b>`` → ``**t**``, ``<em>/<i>`` → ``*t*``;
   an inline element whose collapsed text is empty emits nothing; inline
   tags left open when their block ends degrade to plain text (markers are
   only added on a matching close);
4. whitespace: every emitted fragment is collapsed ``[ \\t\\r\\n]+`` → one
   space and stripped with the engine's whitespace class (``' \\t\\r\\n'``,
   NOT bare ``.strip()`` — see extractors/html.py) by ``text.normalize_ws``,
   the one collapse of every Python span; empty blocks are dropped;
5. no Markdown metachar escaping (``*``, ``[`` … in source text pass
   through verbatim) and no table assembly (``td``/``th`` degrade to
   paragraph blocks) — both documented limitations, not bugs;
6. unparseable HTML → ``''`` (quarantine semantics, same rationale as
   ``extract_main_content_py``).

Spark integration: Arrow-batched ``pandas_udf`` — the designated slow path,
vectorized at the batch level, parser is O(len(html)).
"""

from __future__ import annotations

from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .html import BLOCK_TAGS, KILL_TAGS, _VOID
from .text import normalize_ws

_HEADINGS = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}
_INLINE_MARKS = {"strong": "**", "b": "**", "em": "*", "i": "*"}


class _MarkdownParser(HTMLParser):
    """Emits (prefix_kind, text) blocks; assembly happens in the caller."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, str]] = []  # (kind, collapsed text)
        self._segs: list[str] = []
        self._inline: list[tuple[str, int, str]] = []  # (tag, seg idx, href)
        self._kill_depth = 0
        self._quote_depth = 0
        self._prefix = ""  # '' | '#'*n + ' ' | '- '
        self._kind = "p"  # 'p' | 'li' | heading tag

    # -- block machinery ---------------------------------------------------
    def _flush(self) -> None:
        # open inline frames degrade to plain text: join raw segments
        text = normalize_ws("".join(self._segs))
        self._segs = []
        self._inline = []
        if text:
            quote = "> " * self._quote_depth
            self.blocks.append((self._kind, quote + self._prefix + text))

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _VOID:
            if tag == "br" and self._kill_depth == 0:
                self._segs.append(" ")
            return
        if tag in KILL_TAGS:
            self._kill_depth += 1
            return
        if self._kill_depth:
            return
        if tag == "a":
            href = next((v or "" for k, v in attrs if k == "href"), "")
            self._inline.append((tag, len(self._segs), href))
            return
        if tag in _INLINE_MARKS:
            self._inline.append((tag, len(self._segs), ""))
            return
        if tag == "blockquote":
            self._flush()
            self._quote_depth += 1
            self._prefix, self._kind = "", "p"
            return
        if tag in BLOCK_TAGS:
            self._flush()
            if tag in _HEADINGS:
                self._prefix, self._kind = "#" * _HEADINGS[tag] + " ", tag
            elif tag == "li":
                self._prefix, self._kind = "- ", "li"
            else:
                self._prefix, self._kind = "", "p"

    def handle_endtag(self, tag: str) -> None:
        if tag in KILL_TAGS:
            self._kill_depth = max(0, self._kill_depth - 1)
            return
        if self._kill_depth:
            return
        if tag == "a" or tag in _INLINE_MARKS:
            # close the innermost matching open frame; ignore stray closes
            for i in range(len(self._inline) - 1, -1, -1):
                t, start, href = self._inline[i]
                if t != tag:
                    continue
                inner = normalize_ws("".join(self._segs[start:]))
                del self._segs[start:]
                del self._inline[i:]  # frames opened inside also end here
                if inner:
                    if tag == "a":
                        self._segs.append(
                            f"[{inner}]({href})" if href else inner
                        )
                    else:
                        m = _INLINE_MARKS[tag]
                        self._segs.append(f"{m}{inner}{m}")
                break
            return
        if tag == "blockquote":
            self._flush()
            self._quote_depth = max(0, self._quote_depth - 1)
            self._prefix, self._kind = "", "p"
            return
        if tag in BLOCK_TAGS:
            self._flush()
            self._prefix, self._kind = "", "p"

    def handle_data(self, data: str) -> None:
        if self._kill_depth or not data:
            return
        self._segs.append(data)

    def close(self) -> None:
        super().close()
        self._flush()


def html_to_markdown_py(html: str) -> str:
    """Pure-Python core (shared by the UDF and the pytest oracle)."""
    if not html:
        return ""
    parser = _MarkdownParser()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        return ""
    out: list[str] = []
    prev_kind = None
    for kind, text in parser.blocks:
        if out:
            out.append("\n" if kind == "li" and prev_kind == "li" else "\n\n")
        out.append(text)
        prev_kind = kind
    return "".join(out)


@F.pandas_udf(T.StringType())
def html_to_markdown_udf(html: pd.Series) -> pd.Series:
    return html.map(
        lambda h: html_to_markdown_py(h) if isinstance(h, str) else ""
    )


# ---------------------------------------------------------------------------
# Outlink extraction (crawl-frontier / link-graph semantics)
# ---------------------------------------------------------------------------

# Unlike the content extractors, outlink extraction keeps nav/footer anchors
# (a frontier wants every crawlable edge); only tags that can't render an
# anchor at all are skipped.
_NON_RENDERING = frozenset(
    "script style noscript template head title select option".split()
)


class _LinkParser(HTMLParser):
    """Collects every ``<a href=…>`` outside non-rendering subtrees, in
    document order, as (href, collapsed anchor text)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.links: list[tuple[str, str]] = []
        self._skip_depth = 0
        self._a: list[tuple[int, str, list[str]]] = []  # (idx, href, segs)

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _VOID:
            return
        if tag in _NON_RENDERING:
            self._skip_depth += 1
            return
        if self._skip_depth:
            return
        if tag == "a":
            href = next((v or "" for k, v in attrs if k == "href"), "")
            if href:
                self.links.append((href, ""))
                self._a.append((len(self.links) - 1, href, []))

    def handle_endtag(self, tag: str) -> None:
        if tag in _NON_RENDERING:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if self._skip_depth:
            return
        if tag == "a" and self._a:
            idx, href, segs = self._a.pop()
            self.links[idx] = (href, normalize_ws("".join(segs)))

    def handle_data(self, data: str) -> None:
        if self._skip_depth or not data or not self._a:
            return
        self._a[-1][2].append(data)

    def close(self) -> None:
        super().close()
        # unclosed anchors keep whatever text accumulated
        while self._a:
            idx, href, segs = self._a.pop()
            self.links[idx] = (href, normalize_ws("".join(segs)))


def extract_links_py(html: str) -> list[tuple[str, str]]:
    """Pure-Python core: document-order (href, anchor) pairs; unparseable
    HTML → [] (quarantine semantics)."""
    if not html:
        return []
    parser = _LinkParser()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        return []
    return parser.links


_LINK_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("href", T.StringType()),
            T.StructField("anchor", T.StringType()),
        ]
    )
)


@F.pandas_udf(_LINK_SCHEMA)
def extract_links_udf(html: pd.Series) -> pd.Series:
    return html.map(
        lambda h: extract_links_py(h) if isinstance(h, str) else []
    )
