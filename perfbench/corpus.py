"""Seeded benchmark inputs: the documents table and the WARC segments.

The documents table is rebuilt from ``documents_profile.tsv``, a profile of
the test data's sf0.1 ``documents.parquet`` (see profile_corpus.py): every
document keeps its doc_id, character length, language, source and
duplicate relation, and the seed only re-picks its words from the source
table's vocabulary. ``synth`` derives span counts, kinds, duplicate
payloads and oversized documents from doc_id and length alone, so these
match the source table for every seed, and so does every count the
benchmark checks (docs, spans, distinct payloads, WARC records), while
different seeds give different content hashes.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

PROFILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "documents_profile.tsv")
DUP_SUFFIX = " dup"


def read_profile() -> tuple[list[str], list[dict]]:
    """(vocabulary, per-document rows in doc_id order)."""
    vocab: list[str] = []
    rows: list[dict] = []
    with open(PROFILE, encoding="utf-8") as f:
        vocab = f.readline().split(":", 1)[1].split()
        header = f.readline().rstrip("\n").split("\t")
        for line in f:
            row = dict(zip(header, line.rstrip("\n").split("\t")))
            for k in ("doc_id", "n_chars", "copy_of"):
                row[k] = int(row[k])
            rows.append(row)
    return vocab, rows


def _words(rng: random.Random, vocab: list[str], n_chars: int) -> str:
    words: list[str] = []
    size = -1
    while size < n_chars:
        w = rng.choice(vocab)
        words.append(w)
        size += len(w) + 1
    text = " ".join(words)[:n_chars]
    return text[:-1] + "a" if text.endswith(" ") else text


def documents(n_docs: int, seed: int) -> list[dict]:
    """The first ``n_docs`` documents of the profile with seeded words.
    A copy takes its source's text (plus the suffix); a source beyond
    ``n_docs`` is still generated, so a prefix keeps its copies."""
    vocab, rows = read_profile()
    by_id = {r["doc_id"]: r for r in rows}
    rng = random.Random(seed)
    text: dict[int, str] = {}

    def text_of(doc_id: int) -> str:
        if doc_id not in text:
            r = by_id[doc_id]
            suffix = DUP_SUFFIX if r["suffix"] else ""
            if r["copy_of"] >= 0:
                text[doc_id] = text_of(r["copy_of"]) + suffix
            else:
                text[doc_id] = _words(rng, vocab, r["n_chars"] - len(suffix)) + suffix
        return text[doc_id]

    out = []
    for r in rows[:n_docs]:
        t = text_of(r["doc_id"])
        if len(t) != r["n_chars"]:
            raise ValueError(f"doc {r['doc_id']}: {len(t)} chars, profile says {r['n_chars']}")
        out.append({"doc_id": r["doc_id"], "text": t, "lang": r["lang"],
                    "source": r["source"], "n_chars": r["n_chars"]})
    return out


def write_documents(path: str, docs: list[dict]) -> None:
    """The ``documents.parquet`` shape ``synth.load_documents`` reads:
    (doc_id, text, lang, source, n_chars)."""
    table = pa.table({
        "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
        "text": [d["text"] for d in docs],
        "lang": [d["lang"] for d in docs],
        "source": [d["source"] for d in docs],
        "n_chars": pa.array([d["n_chars"] for d in docs], pa.int64()),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


SPAN_TYPE = pa.struct([
    ("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()),
    ("offset", pa.int32()),
])


def write_ref_docs(loc: str, parts: list[tuple[list[str], list[list[dict]]]]) -> None:
    """A (doc_id, spans) table, as the job's results hold them, into the
    parquet directory ``loc``: one file per (doc_ids, spans) part, so Spark
    reads it in as many splits."""
    os.makedirs(loc, exist_ok=True)
    for k, (doc_ids, spans) in enumerate(parts):
        table = pa.table({
            "doc_id": pa.array(doc_ids, pa.string()),
            "spans": pa.array(spans, pa.list_(SPAN_TYPE)),
        })
        pq.write_table(table, os.path.join(loc, f"part-{k:03d}.parquet"))


def warc_records(
    docs: list[dict], multiplier: int, inflate: int, seed: int
) -> list[tuple[str, bytes, str]]:
    """(uri, payload, content_type), ``multiplier`` records per document
    (replica ``r`` > 0 appends `` v{r}``, as ``synth.load_documents``
    does): 80% html pages (the text repeated ``inflate`` times, as
    ``synth.load_documents`` inflates, in the synth html template), 12%
    text/plain, 8% binary (image) responses."""
    from text_extract_api_spark.synth import HTML_POST, HTML_PRE

    rng = random.Random(seed)
    out = []
    for r in range(multiplier):
        for d in docs:
            text = " ".join([d["text"]] * inflate) + (f" v{r}" if r else "")
            slot = len(out) % 25
            if slot < 20:
                body = (HTML_PRE + text + HTML_POST).encode("utf-8")
                ctype = "text/html; charset=utf-8"
            elif slot < 23:
                body = text.encode("utf-8")
                ctype = "text/plain; charset=utf-8"
            else:
                body = rng.randbytes(256)
                ctype = "image/png"
            out.append((f"http://{d['source']}.example/{seed}/{d['doc_id']}/{r}", body, ctype))
    return out


def write_warc_segments(
    seg_dir: str, records: list[tuple[str, bytes, str]], n_segments: int, seed: int
) -> list[list[tuple[str, bytes, str]]]:
    """Deal the records over ``n_segments`` gzip-per-record segments in a
    seed-shuffled order (equal record counts per segment). Returns the
    records of each segment in file order."""
    from text_extract_api_spark.extractors.warc import make_warc

    order = list(range(len(records)))
    random.Random(seed).shuffle(order)
    segments: list[list[tuple[str, bytes, str]]] = [[] for _ in range(n_segments)]
    for k, idx in enumerate(order):
        segments[k % n_segments].append(records[idx])
    os.makedirs(seg_dir, exist_ok=True)
    for s, recs in enumerate(segments):
        with open(os.path.join(seg_dir, f"seg-{s:03d}.warc.gz"), "wb") as f:
            f.write(make_warc(recs, gzip_members=True))
    return segments
