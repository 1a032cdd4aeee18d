"""Edge-case corpus generator: sf0.001 with adversarial `documents.text`.

Rewrites a slice of the documents table with the degenerate payloads a real
web corpus contains — empty strings, whitespace-only, control whitespace,
dense ASCII punctuation, a 5 000-char run, single-token docs, exotic
ASCII whitespace (\\x0b/\\f — OUTSIDE the ' \\t\\r\\n' trim class both
engines use, catches bare-.strip() parity bugs) — keeping every
other table byte-identical. `n_chars` is recomputed so the synth pipelines
stay consistent. Used by tests/test_edge_parity.py and runnable standalone:

    python tools/edge_corpus.py /tmp/edge_sf
    python tools/parity_check.py /tmp/edge_sf        # full registered-query sweep

Cases 9-12 exercise the Gopher-rule branches (bullet lines, ellipsis
lines, non-alpha words, >10-char mean word length) — ASCII forms only;
the multibyte bullet '•' / ellipsis '…' variants are pinned by
tests/test_quality.py instead (the media synth oracle's byte_len ==
char_len assumption keeps this corpus pure-ASCII).

Scope notes (documented assumptions, verified r3):
- text is NOT NULL here: NULL text is outside the tested input contract.
  Nothing in the engine normalizes it, and a NULL-text corpus diverges
  from the SQL oracles in 13 queries (measured r3) because Spark and
  DuckDB disagree on NULL propagation through split/length/regexp chains.
  Pinning NULL semantics is left to the real-world-bytes work (ROADMAP
  direction 4).
- ASCII only: the media synth oracle documents byte_len == char-length
  (pure-ASCII corpus assumption, __spark_entry__._media_meta_sql); unicode
  payloads are exercised by the extractor unit tests instead.
- no '<'/'>' in the punctuation case: tag-like raw text legitimately
  diverges between the DOM-parsing html leg and the oracle's regex strip —
  html-strip semantics are pinned by their own fixtures.
"""

from __future__ import annotations

import os
import shutil
import sys

import duckdb

SRC_DEFAULT = "/root/testdata/sf0.001"
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "embeddings",
)

_EDGE_TEXT = """
    CASE doc_id % 17
      WHEN 0 THEN ''
      WHEN 1 THEN ''
      WHEN 2 THEN '   '
      WHEN 3 THEN chr(10) || chr(9) || chr(10)
      WHEN 4 THEN 'a-b_c.d!e?f,g;h:i(j)k|l|m*n&o/p%q#r@s'
      WHEN 5 THEN repeat('a', 5000)
      WHEN 6 THEN 'word'
      WHEN 7 THEN chr(10) || ' padded  text ' || chr(9)
      WHEN 8 THEN chr(11) || ' vertical tab ' || chr(12) || ' edges ' || chr(11)
      WHEN 9 THEN '- first' || chr(10) || '- second' || chr(10) || '* third' || chr(10) || '- fourth'
      WHEN 10 THEN 'trailing thought...' || chr(10) || 'another one...' || chr(10) || 'plain line'
      WHEN 11 THEN '123 456 789 000 111 ??? !!! ###'
      WHEN 12 THEN 'supercalifragilisticexpialidocious pneumonoultramicroscopicsilicovolcanoconiosis floccinaucinihilipilification'
      ELSE text END
""".strip()


def build_edge_corpus(dst: str, src: str = SRC_DEFAULT) -> str:
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    con = duckdb.connect()
    con.execute(
        f"""
COPY (
  SELECT doc_id, {_EDGE_TEXT} AS text, lang, source,
         CAST(length({_EDGE_TEXT}) AS BIGINT) AS n_chars
  FROM "{src}/documents.parquet"
) TO '{dst}/documents.parquet' (FORMAT PARQUET)
"""
    )
    for t in TABLES:
        shutil.copy(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")
    return dst


if __name__ == "__main__":
    out = build_edge_corpus(sys.argv[1] if len(sys.argv) > 1 else "/tmp/edge_sf")
    print(out)
