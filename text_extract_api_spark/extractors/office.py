"""DOCX / PPTX text extraction — stdlib zip + XML, vectorized via Arrow.

The reference *claims* Word/PPTX support at the API surface (``README.md:3``,
``pyproject.toml:8``) but ships no parser — its only concrete formats are PDF
(``files/file_formats/pdf.py:10-11``) and images (``image.py:18-19``). The
build contract (north star: "pdf/docx/pptx/image routing") makes Office
formats first-class, so the engine implements them for real: OOXML files are
zip archives of XML parts; text lives in ``w:t`` runs inside ``w:p``
paragraphs (WordprocessingML) and ``a:t`` runs inside shapes
(DrawingML/PresentationML). Parsing is stdlib ``zipfile`` +
``xml.etree`` — deterministic, no third-party deps, no external services.

Order semantics mirror the reference's page model (pdf_to_jpeg.py:16):
paragraphs in document order joined with '\n'; slides in numeric
``slideN.xml`` order joined with '\n\n' (the pageable-concat rule,
easyocr.py:56).

Spark integration: ``extract_docx_py`` / ``extract_pptx_py`` are the
per-span functions of the ``docx`` / ``pptx`` strategies
(extractors/strategies.py). The pipeline runs them in its one Python leg,
next to the html functions, after one join that fetches the blob
payloads; only office and html rows cross into Python.
"""

from __future__ import annotations

import io
import re
import zipfile
import xml.etree.ElementTree as ET

_W_NS = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
_A_NS = "{http://schemas.openxmlformats.org/drawingml/2006/main}"

_SLIDE_RE = re.compile(r"^ppt/slides/slide(\d+)\.xml$")


def extract_docx_py(data: bytes) -> str:
    """word/document.xml → paragraphs in document order, '\n'-joined.

    Poison rows (not a zip, missing part, broken XML) yield '' instead of
    failing the task — quarantine semantics (a batch engine must not die on
    one bad document; the reference raises per-task, pdf.py:32-34).
    """
    if not data:
        return ""
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            xml = zf.read("word/document.xml")
        root = ET.fromstring(xml)
    except Exception:
        return ""
    paras = []
    for p in root.iter(f"{_W_NS}p"):
        runs = [t.text or "" for t in p.iter(f"{_W_NS}t")]
        # space-class strip (' \t\r\n') — bare .strip() would also trim
        # \x0b/\f/NBSP and diverge from the oracle's trim discipline
        text = "".join(runs).strip(" \t\r\n")
        if text:
            paras.append(text)
    return "\n".join(paras)


def extract_pptx_py(data: bytes) -> str:
    """ppt/slides/slide*.xml (numeric order) → per-slide text runs joined
    '\n', slides joined '\n\n' (page-concat rule)."""
    if not data:
        return ""
    try:
        zf = zipfile.ZipFile(io.BytesIO(data))
    except Exception:
        return ""
    slides = []
    with zf:
        for name in zf.namelist():
            m = _SLIDE_RE.match(name)
            if m:
                slides.append((int(m.group(1)), name))
        slides.sort()
        out = []
        for _, name in slides:
            try:
                root = ET.fromstring(zf.read(name))
            except Exception:
                continue
            runs = [t.text or "" for t in root.iter(f"{_A_NS}t")]
            text = "\n".join(
                r.strip(" \t\r\n") for r in runs if r.strip(" \t\r\n")
            )
            if text:
                out.append(text)
    return "\n\n".join(out)


# ---------------------------------------------------------------- builders
# Minimal valid OOXML builders — used by tests and the deterministic office
# corpus synthesizer (no sample binaries are shipped; documents are built
# from the driver's text table on the fly).

def make_docx(paragraphs: list[str]) -> bytes:
    body = "".join(
        f"<w:p><w:r><w:t>{_xml_escape(p)}</w:t></w:r></w:p>" for p in paragraphs
    )
    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
        f"<w:body>{body}</w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>',
        )
        zf.writestr("word/document.xml", doc)
    return buf.getvalue()


def make_pptx(slides: list[list[str]]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>',
        )
        for i, texts in enumerate(slides, start=1):
            runs = "".join(f"<a:t>{_xml_escape(t)}</a:t>" for t in texts)
            zf.writestr(
                f"ppt/slides/slide{i}.xml",
                '<?xml version="1.0"?>'
                '<p:sld xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main" '
                'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main">'
                f"{runs}</p:sld>",
            )
    return buf.getvalue()


# XML 1.0 forbids these control chars even as character references — a
# writer MUST drop (or substitute) them or the produced part is not a valid
# OOXML document and any conformant parser rejects it (our extractors would
# quarantine the whole doc to ''). Real-world Word/PowerPoint never emit
# them; the corpus synthesizer must not either.
_XML_ILLEGAL_RE = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f]")


def _xml_escape(s: str) -> str:
    s = _XML_ILLEGAL_RE.sub("", s)
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )
