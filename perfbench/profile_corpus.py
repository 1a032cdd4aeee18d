"""Derive the benchmark's corpus profile from a ``documents.parquet``.

    python3 perfbench/profile_corpus.py <sf-dir>/documents.parquet > perfbench/documents_profile.tsv

The profile keeps, per document and in doc_id order, everything about the
table except the words themselves: its character length, language, source,
and whether it copies an earlier document's text (exactly, or with a
`` dup`` suffix, as the near-duplicates of the test data do). The benchmark
rebuilds a ``documents.parquet`` from it with seeded words (corpus.py), so
span counts, the kind mix, duplicate payloads and oversized documents
(all functions of doc_id and length in ``synth``) are those of the source
table for every seed. The committed profile was taken from the sf0.1
``documents.parquet`` of the repo's test data (5,000 documents).
"""

from __future__ import annotations

import sys

import pyarrow.parquet as pq

DUP_SUFFIX = " dup"
COLUMNS = ("doc_id", "n_chars", "lang", "source", "copy_of", "suffix")


def profile_rows(path: str) -> list[tuple]:
    t = pq.read_table(path, columns=["doc_id", "text", "lang", "source", "n_chars"])
    d = t.to_pydict()
    order = sorted(range(t.num_rows), key=lambda i: d["doc_id"][i])
    first: dict[str, int] = {}
    for i in order:
        first.setdefault(d["text"][i], d["doc_id"][i])
    rows = []
    for i in order:
        text, doc_id = d["text"][i], d["doc_id"][i]
        if d["n_chars"][i] != len(text):
            raise ValueError(f"doc {doc_id}: n_chars != len(text)")
        copy_of, suffix = -1, ""
        if first[text] != doc_id:
            copy_of = first[text]
        elif text.endswith(DUP_SUFFIX):
            suffix = "dup"
            copy_of = first.get(text[: -len(DUP_SUFFIX)], -1)
        rows.append((doc_id, len(text), d["lang"][i], d["source"][i], copy_of, suffix))
    return rows


def vocabulary(path: str) -> list[str]:
    words: set[str] = set()
    for text in pq.read_table(path, columns=["text"]).column("text").to_pylist():
        words.update(text.split())
    words.discard(DUP_SUFFIX.strip())
    return sorted(words)


def main(argv: list[str]) -> int:
    (path,) = argv
    print("# vocabulary: " + " ".join(vocabulary(path)))
    print("\t".join(COLUMNS))
    for row in profile_rows(path):
        print("\t".join(str(v) for v in row))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
