"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline on sf0.001.
``queries()`` exposes every implemented operator from SURVEY.md §2 plus the
training-data-pipeline ops; ``oracle_sql()`` gives the DuckDB-equivalent SQL
for each (the correctness gate). Column names/aliases match pairwise.

The synthesized interleaved-docs table (BASELINE.json:input_hint) derives
deterministically from ``documents.parquet``; the DuckDB oracles reproduce
the same synthesis in SQL (see SYNTH_CTE — keep in lockstep with
``text_extract_api_spark/synth.py``).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from text_extract_api_spark.extractors.pii import (
    PII_PATTERNS,
    TOKEN,
    anonymize_sql,
    ner_anonymize_col,
    ner_anonymize_sql,
)
from text_extract_api_spark.functions.dedup import (
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_near_dups,
    paragraph_dedup,
    simhash,
    WS_SPLIT,
    MINHASH_SEEDS,
    LSH_BANDS,
    LSH_ROWS,
    SIMHASH_BITS,
)
from text_extract_api_spark.extractors.media import image_metadata
from text_extract_api_spark.functions.similarity import (
    _dot,
    _norm,
    bucket_expr,
    embedding_neardup_pairs,
    hyperplane_weight,
)
from text_extract_api_spark.functions import quality
from text_extract_api_spark.functions import sampling as _sampling
from text_extract_api_spark.functions.chunking import (
    chunk_token_windows,
    pack_sequences,
)
from text_extract_api_spark.functions.textstats import (
    BPE_TOKEN_RE,
    URL_BLOCKLIST,
    URL_RE,
    url_domains_col,
    LANG_MARKERS,
    STOPWORDS_EN,
    fingerprint_col,
    lang_id_col,
    quality_score_col,
    token_count_bpe_col,
    token_count_col,
)
from text_extract_api_spark.pipeline import (
    extract_flat_no_cache,
    with_content_hash,
)
from text_extract_api_spark.synth import (
    HTML_POST,
    HTML_PRE,
    synth_flat_spans,
    synthesize_interleaved,
    synthesize_interleaved_office,
)

SF_SMOKE = "/root/testdata/sf0.001"

# ---------------------------------------------------------------- SQL helpers

EMB_DIMS = 64
ANN_K = 20
ANN_PLANES = 6
JACCARD_T = 0.82
NEARDUP_T = 0.82
EMB_NEARDUP_T = 0.42
# planes per band scale with the corpus (log2(n/target_bucket): sf0.1 has
# 2000 vectors → 8 planes ≈ 8-vector buckets; 4 planes left ~125-vector
# buckets → 250k candidate pairs, the quadratic trap); bands buy recall.
EMB_NEARDUP_PLANES = 8
EMB_NEARDUP_BANDS = 2
IVF_STRIDE = 50
IVF_PROBES = 2
RUN_TS = "2026-01-01 00:00:00"


def _norm_sql(e: str) -> str:
    return f"trim(regexp_replace({e}, '[ \\t\\r\\n]+', ' ', 'g'))"


def _xml_legal_sql(e: str) -> str:
    """Mirror of office._XML_ILLEGAL_RE: the OOXML builders drop XML-1.0-
    illegal control chars (unrepresentable even as charrefs), so the office
    round-trip oracle must derive its expectation from the same cleaned
    text."""
    return f"regexp_replace({e}, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g')"


def _anon_sql(e: str) -> str:
    return anonymize_sql(e)



def _strip_md_sql(e: str) -> str:
    return _norm_sql(
        f"regexp_replace(regexp_replace({e}, '#+ *', '', 'g'), '[*_]{{1,3}}', '', 'g')"
    )


_HTML_PRE_LIT = HTML_PRE.replace("'", "''")
_HTML_POST_LIT = HTML_POST.replace("'", "''")

# DuckDB reproduction of synth.py (keep in lockstep).
SYNTH_CTE = (
    """
eff AS (
  SELECT d.doc_id AS raw_id,
         CASE WHEN d.doc_id % 20 = 7 AND d.doc_id >= 7 THEN d.doc_id - 7 ELSE d.doc_id END AS eff_id,
         COALESCE(p.text, d.text) AS text,
         COALESCE(p.n_chars, d.n_chars) AS n_chars
  FROM documents d
  LEFT JOIN documents p
    ON d.doc_id % 20 = 7 AND d.doc_id >= 7 AND p.doc_id = d.doc_id - 7
),
flat AS (
  SELECT CAST(raw_id AS VARCHAR) AS doc_id,
         eff_id,
         CAST(t.k AS INT) AS "offset",
         (['text','html','markdown','pdf','image','pii_text'])[CAST((eff_id + t.k) % 6 AS INT) + 1] AS kind,
         substring(text, CAST(t.k * 120 + 1 AS INT), 120) AS chunk,
         t.k AS k
  FROM eff
  CROSS JOIN UNNEST(range(LEAST(6, GREATEST(1, CAST(ceil(n_chars / 120.0) AS BIGINT))))) AS t(k)
),
spans AS (
  SELECT doc_id, "offset", kind, chunk, k, eff_id,
    CASE kind
      WHEN 'text' THEN CASE WHEN eff_id % 97 = 0 THEN repeat(chunk, 50) ELSE chunk END
      WHEN 'html' THEN '"""
    + _HTML_PRE_LIT
    + """' || chunk || '"""
    + _HTML_POST_LIT
    + """'
      WHEN 'markdown' THEN '# Section ' || CAST(k AS VARCHAR) || ' ' || chr(10) || chr(10) || chunk
      WHEN 'pii_text' THEN chunk || ' Contact user' || CAST(eff_id AS VARCHAR) || '@example.com or call 555-010' || CAST(k AS VARCHAR) || '.'
      ELSE '' END AS text,
    CASE WHEN kind = 'pdf'   THEN 'pdf://' || CAST(eff_id AS VARCHAR) || '/' || CAST(k AS VARCHAR)
         WHEN kind = 'image' THEN 'img://' || CAST(eff_id AS VARCHAR) || '/' || CAST(k AS VARCHAR)
         ELSE '' END AS media_ref
  FROM flat
)
""".strip()
)

_PDF_TEXT_SQL = (
    "CASE WHEN length(chunk) > 60 THEN substring(chunk, 1, 60) || chr(10) || chr(10) || substring(chunk, 61, 60) "
    "WHEN length(chunk) > 0 THEN chunk ELSE '' END"
)

# Quarantine-aware pdf page concat: a page survives when it exists (synth
# drops empty pages) AND the validity stub passes (md5 of its ASCII payload
# not in the 'f' bit-rot slice — media.py CORRUPT_MD5_PREFIX). Surviving
# pages concat in page order; a fully-quarantined ref extracts to ''.
_P1 = "substring(chunk, 1, 60)"
_P2 = "substring(chunk, 61, 60)"
_V1 = f"(length(chunk) > 0 AND substring(md5({_P1}), 1, 1) <> 'f')"
_V2 = f"(length(chunk) > 60 AND substring(md5({_P2}), 1, 1) <> 'f')"
_PDF_QUARANTINED_TEXT_SQL = (
    f"CASE WHEN {_V1} AND {_V2} THEN {_P1} || chr(10) || chr(10) || {_P2} "
    f"WHEN {_V1} THEN {_P1} WHEN {_V2} THEN {_P2} ELSE '' END"
)

# Office span synthesis mirror (synth.synth_office_flat) + the extracted
# text mirror: a single-paragraph docx / single-slide pptx built from the
# doc's first chunk round-trips (XML-escape is lossless) to the chunk,
# whitespace-normalized — same derivation as the office_extract oracle.
OFFICE_SPANS_CTE = """
ospans AS (
  SELECT CAST(raw_id AS VARCHAR) AS doc_id, CAST(6 AS INT) AS "offset",
         CASE WHEN eff_id % 20 = 4 THEN 'docx' ELSE 'pptx' END AS kind,
         substring(text, 1, 120) AS chunk,
         'office://' || CAST(eff_id AS VARCHAR) AS media_ref
  FROM eff WHERE eff_id % 10 = 4
)
""".strip()

EXTRACT_CTE = f"""
extracted AS (
  SELECT doc_id, "offset", kind,
    CASE kind
      WHEN 'text'     THEN {_anon_sql(_norm_sql('text'))}
      WHEN 'html'     THEN {_anon_sql(_norm_sql('chunk'))}
      WHEN 'markdown' THEN {_anon_sql(_strip_md_sql('text'))}
      WHEN 'pii_text' THEN {_anon_sql(_norm_sql('text'))}
      WHEN 'pdf'      THEN {_anon_sql(_PDF_TEXT_SQL)}
      ELSE '' END AS text,
    CASE WHEN kind IN ('pdf','image') THEN media_ref ELSE '' END AS media_ref
  FROM spans
)
""".strip()

# EXTRACT_CTE variant for the flagship-job corpus: quarantine-filtered pdf
# pages + the office spans (docx/pptx media_refs are carried through — they
# are MEDIA_KINDS in schema.py).
EXTRACT_OFFICE_CTE = f"""
extracted AS (
  SELECT doc_id, "offset", kind,
    CASE kind
      WHEN 'text'     THEN {_anon_sql(_norm_sql('text'))}
      WHEN 'html'     THEN {_anon_sql(_norm_sql('chunk'))}
      WHEN 'markdown' THEN {_anon_sql(_strip_md_sql('text'))}
      WHEN 'pii_text' THEN {_anon_sql(_norm_sql('text'))}
      WHEN 'pdf'      THEN {_anon_sql(_PDF_QUARANTINED_TEXT_SQL)}
      ELSE '' END AS text,
    CASE WHEN kind IN ('pdf','image') THEN media_ref ELSE '' END AS media_ref
  FROM spans
  UNION ALL
  SELECT doc_id, "offset", kind,
         {_anon_sql(_norm_sql(_xml_legal_sql('chunk')))} AS text,
         media_ref
  FROM ospans
)
""".strip()

_SHINGLE_CTE = """
words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '[ \\t\\r\\n]+') AS w
  FROM documents WHERE length(trim(text)) > 0
),
sh AS (
  SELECT DISTINCT doc_id AS id, s.shingle
  FROM words
  CROSS JOIN UNNEST(
    list_transform(range(1, CAST(len(w) AS BIGINT) - 1),
                   i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2])
  ) AS s(shingle)
  WHERE len(w) >= 3
)
""".strip()

_JACCARD_TAIL = """
sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT c.id_a, c.id_b,
       round(CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 4) AS jaccard
FROM common c
JOIN sizes sa ON sa.id = c.id_a
JOIN sizes sb ON sb.id = c.id_b
WHERE round(CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 4) >= {t}
""".strip()


def _minhash_sig_sql() -> str:
    aggs = ",\n         ".join(
        f"min(md5('{s}:' || shingle)) AS sig_{s}" for s in range(MINHASH_SEEDS)
    )
    return f"sig AS (SELECT id, {aggs} FROM sh GROUP BY id)"


def _lsh_bands_sql() -> str:
    parts = []
    for b in range(LSH_BANDS):
        cols = " || '|' || ".join(f"sig_{b * LSH_ROWS + r}" for r in range(LSH_ROWS))
        parts.append(f"SELECT id, {b} AS band, md5({cols}) AS band_key FROM sig")
    return "bands AS (" + " UNION ALL ".join(parts) + ")"


_LSH_PAIRS_SQL = (
    "SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM bands a "
    "JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id"
)


def _simhash_sql() -> str:
    votes = ",\n       ".join(
        "SUM(CASE WHEN substring(h, %d, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v_%d"
        % (b + 1, b)
        for b in range(SIMHASH_BITS)
    )
    bits = " || ".join(
        f"CASE WHEN v_{b} > 0 THEN '1' ELSE '0' END" for b in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id AS id, md5(t.tok) AS h
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '[ \\t\\r\\n]+') AS w
        FROM documents WHERE length(trim(text)) > 0) words
  CROSS JOIN UNNEST(w) AS t(tok)
),
agg AS (SELECT id, {votes} FROM toks GROUP BY id)
SELECT id, {bits} AS simhash FROM agg
""".strip()


def _vec_dot_sql(a: str, b: str, dims: int = EMB_DIMS) -> str:
    return " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)" for i in range(1, dims + 1)
    )


def _vec_dot_lit_sql(a: str, weights: list[float]) -> str:
    return " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * {w!r}" for i, w in enumerate(weights, start=1)
    )


def _plane_weights(p: int, dims: int = EMB_DIMS) -> list[float]:
    return [hyperplane_weight(p, d) for d in range(dims)]


def _ann_cosine_sql() -> str:
    dot = _vec_dot_sql("e.embedding", "q.embedding")
    ne = _vec_dot_sql("e.embedding", "e.embedding")
    nq = _vec_dot_sql("q.embedding", "q.embedding")
    return f"""
SELECT e.vec_id, round(({dot}) / (sqrt({ne}) * sqrt({nq})), 4) AS score
FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
ORDER BY score DESC, e.vec_id ASC
LIMIT {ANN_K}
""".strip()


def _ann_lsh_sql() -> str:
    dot = _vec_dot_sql("e.embedding", "q.embedding")
    ne = _vec_dot_sql("e.embedding", "e.embedding")
    nq = _vec_dot_sql("q.embedding", "q.embedding")
    hamming_terms = []
    for p in range(ANN_PLANES):
        w = _plane_weights(p)
        se = f"(({_vec_dot_lit_sql('e.embedding', w)}) >= 0)"
        sq = f"(({_vec_dot_lit_sql('q.embedding', w)}) >= 0)"
        hamming_terms.append(f"CASE WHEN {se} = {sq} THEN 0 ELSE 1 END")
    hamming = " + ".join(hamming_terms)
    return f"""
SELECT e.vec_id, round(({dot}) / (sqrt({ne}) * sqrt({nq})), 4) AS score
FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
WHERE ({hamming}) <= 1
ORDER BY score DESC, e.vec_id ASC
LIMIT {ANN_K}
""".strip()


def _bucket_sql(vec: str, n_planes: int, plane_offset: int = 0) -> str:
    """Sign-LSH bucket bit string for an embedding column (mirrors
    similarity.bucket_expr exactly, incl. the band plane offset)."""
    bits = []
    for p in range(plane_offset, plane_offset + n_planes):
        w = _plane_weights(p)
        bits.append(f"CASE WHEN ({_vec_dot_lit_sql(vec, w)}) >= 0 THEN '1' ELSE '0' END")
    return " || ".join(bits)


def _emb_neardup_sql() -> str:
    # multi-band OR: candidate iff ANY band's key matches (mirrors
    # similarity.banded_bucket_keys / embedding_neardup_pairs)
    dot = _vec_dot_sql("a.embedding", "b.embedding")
    na = _vec_dot_sql("a.embedding", "a.embedding")
    nb = _vec_dot_sql("b.embedding", "b.embedding")
    cos = f"round(({dot}) / (sqrt({na}) * sqrt({nb})), 4)"
    band_conds = []
    for b in range(EMB_NEARDUP_BANDS):
        off = b * EMB_NEARDUP_PLANES
        ba = _bucket_sql("a.embedding", EMB_NEARDUP_PLANES, off)
        bb = _bucket_sql("b.embedding", EMB_NEARDUP_PLANES, off)
        band_conds.append(f"(({ba}) = ({bb}))")
    any_band = " OR ".join(band_conds)
    return f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cos_sim
FROM embeddings a JOIN embeddings b
  ON a.vec_id < b.vec_id AND ({any_band})
WHERE {cos} >= {EMB_NEARDUP_T}
""".strip()


def _kmeans_cte_sql() -> str:
    """Shared k-means oracle prefix (clustering.kmeans_assign twin): the
    KMEANS_ITERS Lloyd rounds unrolled as CTE layers, ending in ``fin``
    (vec_id, cluster, dist_r). Distances are the same left-to-right double
    folds both engines compute bit-identically (round-9 guards residual
    merge-order noise); centroid means are round(avg, 6) — the single
    summation-order-sensitive spot, identical rounding on both sides."""
    from text_extract_api_spark.functions.clustering import (
        KMEANS_ITERS,
        KMEANS_K,
    )

    sq = (
        "round(list_sum(list_transform(list_zip(e.v, c.cv), "
        "s -> (s[1] - s[2]) * (s[1] - s[2]))), 9)"
    )
    parts = [
        f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
c0 AS (
  SELECT CAST(row_number() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT) AS cid,
         list_transform(v, x -> round(x, 6)) AS cv
  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {KMEANS_K}
)"""
    ]
    prev = "c0"
    for it in range(1, KMEANS_ITERS + 1):
        parts.append(
            f""",
a{it} AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {sq}, c.cid) AS rn
    FROM e CROSS JOIN {prev} c
  ) WHERE rn = 1
),
u{it} AS (
  SELECT a.cid, t.i AS pos, round(avg(e.v[t.i]), 6) AS m
  FROM a{it} a JOIN e USING (vec_id) CROSS JOIN range(1, {EMB_DIMS + 1}) t(i)
  GROUP BY a.cid, t.i
),
c{it} AS (
  SELECT p.cid, COALESCE(n.cv, p.cv) AS cv
  FROM {prev} p LEFT JOIN (
    SELECT cid, list(m ORDER BY pos) AS cv FROM u{it} GROUP BY cid
  ) n USING (cid)
)"""
        )
        prev = f"c{it}"
    parts.append(
        f""",
fin AS (
  SELECT vec_id, cid AS cluster, round(d, 6) AS dist_r FROM (
    SELECT e.vec_id, c.cid, {sq} AS d,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {sq}, c.cid) AS rn
    FROM e CROSS JOIN {prev} c
  ) WHERE rn = 1
)"""
    )
    return "".join(parts)


def _semdedup_sql() -> str:
    """SemDeDup oracle: the shared k-means prefix plus the within-cluster
    cosine dup hunt; cosine reuses the engine-wide unrolled-chain /
    round-4 contract (_vec_dot_sql)."""
    from text_extract_api_spark.functions.clustering import SEMDEDUP_COS

    cos = (
        f"round(({_vec_dot_sql('ex.v', 'ey.v')}) / "
        f"(sqrt({_vec_dot_sql('ex.v', 'ex.v')}) * "
        f"sqrt({_vec_dot_sql('ey.v', 'ey.v')})), 4)"
    )
    return (
        _kmeans_cte_sql()
        + f""",
dup AS (
  SELECT DISTINCT y.vec_id
  FROM fin x JOIN fin y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  JOIN e ex ON ex.vec_id = x.vec_id
  JOIN e ey ON ey.vec_id = y.vec_id
  WHERE ({_vec_dot_sql('ex.v', 'ex.v')}) > 0
    AND ({_vec_dot_sql('ey.v', 'ey.v')}) > 0
    AND {cos} >= {SEMDEDUP_COS}
)
SELECT f.vec_id, f.cluster, f.dist_r,
       f.vec_id IN (SELECT vec_id FROM dup) AS sem_dup
FROM fin f"""
    ).strip()


def _prototypes_sql() -> str:
    """prune_prototypes oracle: shared k-means prefix + per-cluster rank
    over (dist_r DESC, vec_id) and the ceil(keep_frac × |cell|) cut — one
    double multiply of identical operands on both engines."""
    from text_extract_api_spark.functions.clustering import PROTO_KEEP_FRAC

    return (
        _kmeans_cte_sql()
        + f"""
SELECT vec_id, cluster, dist_r, prune_rank,
       prune_rank <= CAST(ceil({PROTO_KEEP_FRAC!r} * n_in_cluster) AS INT) AS keep
FROM (
  SELECT vec_id, cluster, dist_r,
         CAST(row_number() OVER (
             PARTITION BY cluster ORDER BY dist_r DESC, vec_id) AS INT)
           AS prune_rank,
         COUNT(*) OVER (PARTITION BY cluster) AS n_in_cluster
  FROM fin
)"""
    ).strip()


def _substring_dup_sql() -> str:
    """substring_dup_spans oracle: the same rolling-k-gram + interval-union
    algebra — list_slice/array_to_string/md5 mirror slice/concat_ws/md5
    token-for-token, and the running-max window (pos > max_prev(pos + k))
    reproduces the exact interval union including gap < k overlaps."""
    from text_extract_api_spark.functions.dedup import DUP_SUBSTR_K as K

    return f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '[ \\t\\r\\n]+')) END
           AS n_tokens,
         regexp_split_to_array(trim(text), '[ \\t\\r\\n]+') AS toks
  FROM documents
),
grams AS (
  SELECT doc_id, CAST(i AS INT) - 1 AS pos,
         md5(array_to_string(list_slice(toks, i, i + {K} - 1), chr(31))) AS fp
  FROM (
    SELECT doc_id, toks, unnest(range(1, n_tokens - {K} + 2)) AS i
    FROM base WHERE n_tokens >= {K}
  )
),
dup AS (SELECT fp FROM grams GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2),
hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (fp)),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos > COALESCE(MAX(pos + {K}) OVER (
                  PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS newi
  FROM hits
),
islands AS (
  SELECT doc_id, pos,
         SUM(newi) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM flagged
),
spans AS (
  SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + {K} AS e
  FROM islands GROUP BY 1, 2
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_dup_spans,
         CAST(SUM(e - s) AS BIGINT) AS dup_tokens
  FROM spans GROUP BY 1
)
SELECT b.doc_id, b.n_tokens,
       COALESCE(p.n_dup_spans, 0) AS n_dup_spans,
       COALESCE(p.dup_tokens, 0) AS dup_tokens,
       CASE WHEN b.n_tokens > 0
            THEN round(CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE)
                       / CAST(b.n_tokens AS DOUBLE), 6)
            ELSE 0.0 END AS dup_frac
FROM base b LEFT JOIN per_doc p USING (doc_id)
""".strip()


def _bpe_cte_prefix(n_merges: int) -> str:
    """Shared CTE chain for the BPE oracles: corpus word counts, symbol
    strings, and the unrolled merge rounds m1..mN (kmeans-oracle pattern).
    The symbol string wraps every char in chr(31) via one global regex;
    merges apply as the boundary-delimited replace(); each round's winner
    is the (count DESC, left, right) total order — integer counts, no
    float anywhere."""
    sep = "chr(31)"
    parts = [
        f"""
WITH words AS (
  SELECT word, COUNT(*) AS cnt FROM (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '[ \\t\\r\\n]+')) AS word
    FROM documents WHERE length(trim(text)) > 0
  ) WHERE word <> '' GROUP BY word
),
s0 AS (
  SELECT regexp_replace(word, '(.)', {sep}||'\\1'||{sep}, 'g')
           || {sep}||'</w>'||{sep} AS s,
         cnt
  FROM words
)"""
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f""",
p{r} AS (
  SELECT y[i] AS l, y[i + 1] AS r, SUM(cnt) AS c FROM (
    SELECT cnt, y, unnest(range(1, len(y))) AS i FROM (
      SELECT cnt, string_split(trim(s, {sep}), {sep}||{sep}) AS y FROM s{r - 1}
    ) WHERE len(y) >= 2
  ) GROUP BY 1, 2
),
m{r} AS (SELECT l, r, c FROM p{r} ORDER BY c DESC, l, r LIMIT 1),
s{r} AS (
  SELECT replace(s, {sep}||l||{sep}||{sep}||r||{sep}, {sep}||l||r||{sep}) AS s,
         cnt
  FROM s{r - 1} CROSS JOIN m{r}
)"""
        )
    return "".join(parts)


def _bpe_merges_sql() -> str:
    """bpe_train_merges oracle: the shared CTE prefix's per-round winners."""
    from text_extract_api_spark.functions.textstats import BPE_N_MERGES

    unions = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INT) AS merge_rank, l AS merge_left,"
        f" r AS merge_right, CAST(c AS BIGINT) AS pair_count FROM m{r}"
        for r in range(1, BPE_N_MERGES + 1)
    )
    return (_bpe_cte_prefix(BPE_N_MERGES) + "\n" + unions).strip()


def _bpe_apply_sql() -> str:
    """bpe_apply oracle: the shared training prefix (m1..mN are the learned
    merges), then every document encoded as the space-joined word symbol
    stream with each round's merge applied by the same boundary-delimited
    replace — rank-r's rule is a scalar from CTE m{r}. Token count =
    chr(31)chr(31) boundary count + word count via a length difference;
    md5 of the final stream is the strong value check."""
    from text_extract_api_spark.functions.textstats import BPE_N_MERGES

    sep = "chr(31)"
    sep2 = f"{sep}||{sep}"
    wlist = (
        "list_filter(regexp_split_to_array(trim(lower(text)),"
        " '[ \\t\\r\\n]+'), w -> w <> '')"
    )
    enc_layers = [
        f""",
e0 AS (
  SELECT doc_id,
         array_to_string(list_transform({wlist},
           w -> regexp_replace(w, '(.)', {sep}||'\\1'||{sep}, 'g')
                || {sep}||'</w>'||{sep}), ' ') AS e,
         len({wlist}) AS n_words
  FROM documents
)"""
    ]
    for r in range(1, BPE_N_MERGES + 1):
        enc_layers.append(
            f""",
e{r} AS (
  SELECT doc_id, n_words,
         replace(e, {sep}||l||{sep2}||r||{sep}, {sep}||l||r||{sep}) AS e
  FROM e{r - 1} CROSS JOIN m{r}
)"""
        )
    tail = f"""
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       CAST((length(e) - length(replace(e, {sep2}, ''))) // 2 + n_words
            AS BIGINT) AS n_bpe_tokens,
       md5(e) AS enc_md5
FROM e{BPE_N_MERGES}
""".rstrip()
    return (
        _bpe_cte_prefix(BPE_N_MERGES) + "".join(enc_layers) + "\n" + tail
    ).strip()


def _unigram_logppl_sql() -> str:
    """unigram_logppl oracle: identical LM training (Laplace over the same
    tokenization), per-token log-probs quantized to BIGINT micro-nats
    before the per-doc sum — integer accumulation is order-free, so
    Spark's partition-order sums and DuckDB's sequential fold agree
    exactly; ln() runs on bit-identical integer-ratio doubles."""
    from text_extract_api_spark.functions.quality import LOGP_SCALE

    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '[ \\t\\r\\n]+')) AS word
  FROM documents WHERE length(trim(text)) > 0
),
tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
vocab AS (SELECT word, SUM(tf) AS cnt FROM tf GROUP BY 1),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS vsize FROM vocab),
logp AS (
  SELECT word,
         CAST(round(ln(CAST(cnt + 1 AS DOUBLE) / CAST(total + vsize AS DOUBLE))
                    * {LOGP_SCALE}.0, 0) AS BIGINT) AS logp_u
  FROM vocab CROSS JOIN tot
),
per_doc AS (
  SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
         SUM(tf.tf * l.logp_u) AS nll_u
  FROM tf JOIN logp l USING (word) GROUP BY 1
)
SELECT d.doc_id, COALESCE(p.n_tokens, 0) AS n_tokens,
       COALESCE(round(-CAST(p.nll_u AS DOUBLE)
             / (CAST(p.n_tokens AS DOUBLE) * {LOGP_SCALE}.0), 6), 0.0) AS logppl
FROM documents d LEFT JOIN per_doc p USING (doc_id)
""".strip()


def _quality_classifier_sql() -> str:
    from text_extract_api_spark.functions.classifier import (
        quality_classifier_sql,
    )

    return quality_classifier_sql("contains(text, 'spark')")


def _ccnet_buckets_sql() -> str:
    """ccnet_ppl_buckets oracle: the unigram-LM chain (identical to
    _unigram_logppl_sql) plus per-language interpolated terciles. Rounded
    thresholds + 6-dp scores: interpolated cut points fall strictly between
    adjacent order statistics, so 1-ulp interpolation drift between engines
    cannot flip a bucket."""
    from text_extract_api_spark.functions.quality import LOGP_SCALE

    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '[ \\t\\r\\n]+')) AS word
  FROM documents WHERE length(trim(text)) > 0
),
tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
vocab AS (SELECT word, SUM(tf) AS cnt FROM tf GROUP BY 1),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS vsize FROM vocab),
logp AS (
  SELECT word,
         CAST(round(ln(CAST(cnt + 1 AS DOUBLE) / CAST(total + vsize AS DOUBLE))
                    * {LOGP_SCALE}.0, 0) AS BIGINT) AS logp_u
  FROM vocab CROSS JOIN tot
),
per_doc AS (
  SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
         SUM(tf.tf * l.logp_u) AS nll_u
  FROM tf JOIN logp l USING (word) GROUP BY 1
),
scored AS (
  SELECT d.doc_id, d.lang, COALESCE(p.n_tokens, 0) AS n_tokens,
         COALESCE(round(-CAST(p.nll_u AS DOUBLE)
               / (CAST(p.n_tokens AS DOUBLE) * {LOGP_SCALE}.0), 6), 0.0) AS logppl
  FROM documents d LEFT JOIN per_doc p USING (doc_id)
),
th AS (
  SELECT lang, round(quantile_cont(logppl, CAST(1 AS DOUBLE)/3) + 1e-9, 6) AS t1,
               round(quantile_cont(logppl, CAST(2 AS DOUBLE)/3) + 1e-9, 6) AS t2
  FROM scored WHERE n_tokens > 0 GROUP BY lang
)
SELECT s.doc_id, s.lang, s.n_tokens, s.logppl,
       CASE WHEN s.n_tokens = 0 THEN 'empty'
            WHEN s.logppl <= t.t1 THEN 'head'
            WHEN s.logppl <= t.t2 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM scored s LEFT JOIN th t USING (lang)
""".strip()


def _ann_ivf_sql() -> str:
    cos_ec = (
        f"round(({_vec_dot_sql('e.embedding', 'c.embedding')}) / "
        f"(sqrt({_vec_dot_sql('e.embedding', 'e.embedding')}) * "
        f"sqrt({_vec_dot_sql('c.embedding', 'c.embedding')})), 4)"
    )
    cos_eq = (
        f"round(({_vec_dot_sql('e.embedding', 'q.embedding')}) / "
        f"(sqrt({_vec_dot_sql('e.embedding', 'e.embedding')}) * "
        f"sqrt({_vec_dot_sql('q.embedding', 'q.embedding')})), 4)"
    )
    return f"""
WITH cents AS (SELECT vec_id AS cent_id, embedding FROM embeddings WHERE vec_id % {IVF_STRIDE} = 0),
assigned AS (
  SELECT vec_id, embedding, cent_id FROM (
    SELECT e.vec_id, e.embedding, c.cent_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {cos_ec.replace('c.embedding', 'c.embedding')} DESC, c.cent_id ASC) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
probes AS (
  SELECT c.cent_id FROM cents c, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
  ORDER BY round(({_vec_dot_sql('q.embedding', 'c.embedding')}) / (sqrt({_vec_dot_sql('q.embedding', 'q.embedding')}) * sqrt({_vec_dot_sql('c.embedding', 'c.embedding')})), 4) DESC, c.cent_id ASC
  LIMIT {IVF_PROBES}
)
SELECT e.vec_id, {cos_eq} AS score
FROM assigned e
JOIN probes p ON e.cent_id = p.cent_id
CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
ORDER BY score DESC, e.vec_id ASC
LIMIT {ANN_K}
""".strip()


# DuckDB reproduction of synth_media_pages (keep in lockstep with synth.py).
MEDIA_CTE = """
pages AS (
  SELECT media_ref, page_no, page_text FROM (
    SELECT DISTINCT media_ref, 1 AS page_no, substring(chunk, 1, 60) AS page_text
    FROM spans WHERE kind = 'pdf'
    UNION ALL
    SELECT DISTINCT media_ref, 2 AS page_no, substring(chunk, 61, 60) AS page_text
    FROM spans WHERE kind = 'pdf'
  ) WHERE length(page_text) > 0
)
""".strip()


def _hexval_sql(h: str, i: int) -> str:
    """Value of hex digit i (1-based) of md5-hex expression ``h``."""
    return f"(strpos('0123456789abcdef', substring({h}, {i}, 1)) - 1)"


def _media_meta_sql() -> str:
    # corpus is pure ASCII (verified) → byte_len == char length of page_text
    w = f"CAST(64 + ({_hexval_sql('h', 1)} * 16 + {_hexval_sql('h', 2)}) % 192 AS INT)"
    hgt = f"CAST(64 + ({_hexval_sql('h', 3)} * 16 + {_hexval_sql('h', 4)}) % 192 AS INT)"
    mode = (
        f"(['RGB','L','RGBA'])[CAST({_hexval_sql('h', 5)} % 3 AS INT) + 1]"
    )
    return f"""
WITH {SYNTH_CTE},
{MEDIA_CTE},
meta AS (
  SELECT media_ref, CAST(page_no AS INT) AS page_no,
         CAST(length(page_text) AS BIGINT) AS byte_len,
         md5(page_text) AS h
  FROM pages
)
SELECT media_ref, page_no, byte_len, h AS payload_md5,
       {w} AS width, {hgt} AS height, {mode} AS mode,
       'stub' AS fmt, CAST(8 AS INT) AS bit_depth
FROM meta
""".strip()


def _image_header_meta_sql() -> str:
    """DuckDB re-derivation of the stdlib image-header parsers: the same
    fixture bytes (hex literals), parsed with pure hex-string arithmetic —
    big/little-endian field extraction at the spec offsets, a recursive
    CTE walking JPEG markers to the first SOFn. Independent of the Python
    implementation except for sharing the fixture constants."""
    from text_extract_api_spark.extractors.media import header_fixtures

    fx = [(n, b.hex()) for n, b in header_fixtures() if n != "png_bad_crc"]
    values = ",\n    ".join(f"('{n}', '{h}')" for n, h in fx)

    def hxb(o: str) -> str:
        # value of the byte at 0-based offset ``o`` (SQL expression) of hx
        pair = f"substring(hx, 2*({o})+1, 2)"
        return (
            f"((strpos('0123456789abcdef', substring({pair}, 1, 1)) - 1) * 16"
            f" + strpos('0123456789abcdef', substring({pair}, 2, 1)) - 1)"
        )

    def be(o, n: int) -> str:
        return (
            "("
            + " + ".join(
                f"({hxb(f'({o})+{i}')}) * {256 ** (n - 1 - i)}" for i in range(n)
            )
            + ")"
        )

    def le(o, n: int) -> str:
        return (
            "("
            + " + ".join(f"({hxb(f'({o})+{i}')}) * {256 ** i}" for i in range(n))
            + ")"
        )

    def le_i32(o) -> str:
        v = le(o, 4)
        return f"(CASE WHEN {v} >= 2147483648 THEN {v} - 4294967296 ELSE {v} END)"

    sof = "(192, 193, 194, 195, 197, 198, 199, 201, 202, 203, 205, 206, 207)"
    m2 = hxb("pos+1")
    standalone = f"({m2} = 216 OR {m2} = 1 OR ({m2} BETWEEN 208 AND 215))"
    is_end = f"({m2} IN (217, 218))"
    is_sof = f"({m2} IN {sof})"
    seglen = be("pos+2", 2)
    sof_ok = f"({is_sof} AND {seglen} >= 8 AND pos + 10 <= nb)"
    bmp_hdr = f"{le(14, 4)} IN (40, 52, 56, 108, 124)"
    stub_md5 = "md5(try_cast(from_hex(hx) AS VARCHAR))"

    return f"""
WITH RECURSIVE fx(name, hx) AS (VALUES
    {values}
),
b AS (SELECT name, hx, CAST(length(hx) // 2 AS BIGINT) AS nb FROM fx),
png AS (
  SELECT name, 'png' AS fmt,
         CAST({be(16, 4)} AS INT) AS width, CAST({be(20, 4)} AS INT) AS height,
         CAST({hxb('24')} AS INT) AS bit_depth,
         CASE {hxb('25')} WHEN 0 THEN 'L' WHEN 2 THEN 'RGB' WHEN 3 THEN 'P'
                          WHEN 4 THEN 'LA' WHEN 6 THEN 'RGBA' END AS mode
  FROM b
  WHERE substring(hx, 1, 16) = '89504e470d0a1a0a' AND nb >= 33
    AND {be(8, 4)} = 13 AND substring(hx, 25, 8) = '49484452'
),
gif AS (
  SELECT name, 'gif' AS fmt,
         CAST({le(6, 2)} AS INT) AS width, CAST({le(8, 2)} AS INT) AS height,
         CAST((({hxb('10')} // 16) % 8) + 1 AS INT) AS bit_depth, 'P' AS mode
  FROM b
  WHERE substring(hx, 1, 12) IN ('474946383761', '474946383961') AND nb >= 13
),
bmp0 AS (
  SELECT name, {le_i32(18)} AS w, {le_i32(22)} AS h, {le(28, 2)} AS bits
  FROM b
  WHERE substring(hx, 1, 4) = '424d' AND nb >= 30 AND {bmp_hdr}
),
bmp AS (
  SELECT name, 'bmp' AS fmt, CAST(w AS INT) AS width, CAST(abs(h) AS INT) AS height,
         CAST(bits AS INT) AS bit_depth,
         CASE WHEN bits >= 16 THEN 'RGB' ELSE 'P' END AS mode
  FROM bmp0 WHERE w > 0 AND h <> 0 AND bits IN (1, 4, 8, 16, 24, 32)
),
jwalk(name, hx, nb, pos, prec, hgt, wid, ncomp, done) AS (
  SELECT name, hx, nb, CAST(2 AS BIGINT), CAST(NULL AS INT), CAST(NULL AS INT),
         CAST(NULL AS INT), CAST(NULL AS INT), FALSE
  FROM b WHERE substring(hx, 1, 6) = 'ffd8ff'
  UNION ALL
  SELECT name, hx, nb,
         CASE WHEN {standalone} THEN pos + 2 ELSE pos + 2 + {seglen} END,
         CAST(CASE WHEN {sof_ok} THEN {hxb('pos+4')} END AS INT),
         CAST(CASE WHEN {sof_ok} THEN {be('pos+5', 2)} END AS INT),
         CAST(CASE WHEN {sof_ok} THEN {be('pos+7', 2)} END AS INT),
         CAST(CASE WHEN {sof_ok} THEN {hxb('pos+9')} END AS INT),
         ({is_sof} OR {is_end}) AS done
  FROM jwalk
  WHERE NOT done AND pos + 4 <= nb AND {hxb('pos')} = 255
        AND ({standalone} OR {is_end} OR {seglen} >= 2)
),
jpeg AS (
  SELECT name, 'jpeg' AS fmt, wid AS width, hgt AS height, prec AS bit_depth,
         CASE ncomp WHEN 1 THEN 'L' WHEN 3 THEN 'RGB' WHEN 4 THEN 'CMYK' END AS mode
  FROM jwalk WHERE done AND wid IS NOT NULL
),
parsed AS (
  SELECT * FROM png WHERE width > 0 AND height > 0 AND mode IS NOT NULL
  UNION ALL SELECT * FROM gif WHERE width > 0 AND height > 0
  UNION ALL SELECT * FROM bmp
  UNION ALL SELECT * FROM jpeg WHERE width > 0 AND height > 0 AND mode IS NOT NULL
),
magic AS (
  SELECT name,
         (substring(hx, 1, 16) = '89504e470d0a1a0a'
          OR substring(hx, 1, 12) IN ('474946383761', '474946383961')
          OR substring(hx, 1, 6) = 'ffd8ff'
          OR (substring(hx, 1, 4) = '424d' AND nb >= 18 AND {bmp_hdr})
         ) AS has_magic
  FROM b
)
SELECT b.name AS media_ref,
       COALESCE(p.fmt, 'none') AS fmt,
       CAST(COALESCE(p.width, 0) AS INT) AS width,
       CAST(COALESCE(p.height, 0) AS INT) AS height,
       CAST(COALESCE(p.bit_depth, 0) AS INT) AS bit_depth,
       COALESCE(p.mode, '') AS mode,
       CASE WHEN b.nb = 0 THEN FALSE
            WHEN m.has_magic THEN p.name IS NOT NULL
            ELSE substring({stub_md5}, 1, 1) <> 'f' END AS valid,
       CASE WHEN b.nb = 0 THEN 'empty_payload'
            WHEN m.has_magic AND p.name IS NULL THEN 'decode_error'
            WHEN NOT m.has_magic AND substring({stub_md5}, 1, 1) = 'f'
              THEN 'decode_error'
            ELSE '' END AS reason
FROM b JOIN magic m USING (name) LEFT JOIN parsed p USING (name)
""".strip()


def _media_quarantine_sql() -> str:
    # media payloads are encode(page_text) (ASCII) → md5(blob) == md5(text);
    # pages never have empty text (synth drops them) so only the md5-slice
    # "bit-rot" reason occurs.
    return f"""
WITH {SYNTH_CTE},
{MEDIA_CTE}
SELECT media_ref, CAST(page_no AS INT) AS page_no, 'decode_error' AS reason
FROM pages WHERE substring(md5(page_text), 1, 1) = 'f'
""".strip()


def _binary_sniff_sql() -> str:
    # Re-derives the sniff from the constructed payload prefix (string form
    # for ASCII magics, hex marker for the true-binary JPEG/PNG magics) —
    # the same first-hit-wins order as ingest.sniff_fmt_col. The OOXML rows
    # (m ∈ {6,7}) are zip containers whose member-path resolution is not
    # SQL-expressible; their expected kind follows from the construction
    # (driver records this query as oracle-checked for the magic-byte path).
    return """
WITH p AS (
  SELECT doc_id, doc_id % 9 AS m,
    CASE doc_id % 9
      WHEN 0 THEN '%PDF-1.7' || chr(10)
      WHEN 3 THEN 'GIF89a'
      WHEN 4 THEN '<!DOCTYPE html><html>'
      WHEN 5 THEN chr(65279) || ' ' || chr(10) || '<HTML><BODY>'
      WHEN 8 THEN ''
      ELSE NULL END AS pre,
    CASE doc_id % 9 WHEN 1 THEN 'FFD8FFE0' WHEN 2 THEN '89504E470D0A1A0A' ELSE NULL END AS binpre,
    text
  FROM documents
),
s AS (
  SELECT doc_id, m, binpre,
         CASE WHEN pre IS NOT NULL THEN pre || text END AS sp
  FROM p
),
f AS (
  SELECT doc_id,
    CASE
      WHEN m = 6 THEN 'docx'
      WHEN m = 7 THEN 'pptx'
      WHEN sp IS NOT NULL AND substring(sp, 1, 4) = '%PDF' THEN 'pdf'
      WHEN binpre = '89504E470D0A1A0A' THEN 'png'
      WHEN binpre LIKE 'FFD8FF%' THEN 'jpeg'
      WHEN sp IS NOT NULL AND substring(sp, 1, 4) = 'GIF8' THEN 'gif'
      WHEN sp IS NOT NULL AND upper(substring(ltrim(sp, chr(65279) || ' ' || chr(9) || chr(10) || chr(13)), 1, 9)) = '<!DOCTYPE' THEN 'html'
      WHEN sp IS NOT NULL AND upper(substring(ltrim(sp, chr(65279) || ' ' || chr(9) || chr(10) || chr(13)), 1, 5)) = '<HTML' THEN 'html'
      ELSE 'text'
    END AS fmt
  FROM s
)
SELECT doc_id, fmt,
       CASE WHEN fmt IN ('png', 'jpeg', 'gif') THEN 'image' ELSE fmt END AS kind
FROM f
""".strip()


def _occ_sql(padded: str, needle: str) -> str:
    lit = needle.replace("'", "''")
    return f"CAST((length({padded}) - length(replace({padded}, '{lit}', ''))) / {len(needle)} AS INT)"


def _lang_scores_sql() -> dict[str, str]:
    out = {}
    for lang, markers in LANG_MARKERS.items():
        out[lang] = " + ".join(_occ_sql("padded", m) for m in markers)
    return out


def _lang_id_sql() -> str:
    scores = _lang_scores_sql()
    score_cols = ",\n       ".join(f"({v}) AS s_{k}" for k, v in scores.items())
    best = "GREATEST(" + ", ".join(f"s_{k}" for k in scores) + ")"
    expr = "'und'"
    for lang in ["es", "fr", "de", "en"]:
        expr = f"CASE WHEN s_{lang} = best AND best > 0 THEN '{lang}' ELSE {expr} END"
    return f"""
WITH scored AS (
  SELECT doc_id, {score_cols}
  FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS padded FROM documents)
),
b AS (SELECT *, {best} AS best FROM scored)
SELECT doc_id, {expr} AS lang_pred FROM b
""".strip()


def _stratified_sample_oracle() -> str:
    from text_extract_api_spark.functions.sampling import stratified_sample_sql

    where = stratified_sample_sql(SAMPLE_FRACS, default_fraction=SAMPLE_DEFAULT)
    return f"SELECT doc_id, lang FROM documents WHERE {where}"


def _mix_weights_oracle() -> str:
    whens = "".join(f" WHEN '{s}' THEN {p}" for s, p in MIX_TARGET_PPM.items())
    tok = (
        "CAST(CASE WHEN length(trim(text)) = 0 THEN 0 "
        "ELSE len(regexp_split_to_array(trim(text), '[ \\t\\r\\n]+')) END AS BIGINT)"
    )
    return f"""
WITH per AS (
  SELECT lang, COUNT(*) AS n_docs, CAST(SUM({tok}) AS BIGINT) AS total_tokens
  FROM documents GROUP BY lang
)
SELECT lang, n_docs, total_tokens,
       CAST(CASE WHEN total_tokens > 0 THEN
         ((CASE lang{whens} ELSE 0 END) * SUM(total_tokens) OVER () * 10000)
           // (1000000 * total_tokens)
       ELSE 0 END AS BIGINT) AS weight_x10k
FROM per
""".strip()


def _quality_sql() -> str:
    sw = " + ".join(_occ_sql("padded", f" {w} ") for w in STOPWORDS_EN)
    return f"""
WITH base AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '[ \\t\\r\\n]+')) END AS DOUBLE) AS n_tokens,
         CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) AS punct,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
         ' ' || lower(text) || ' ' AS padded
  FROM documents
),
r AS (
  SELECT doc_id, n_chars, n_tokens, punct, alpha,
         CASE WHEN n_tokens > 0 THEN CAST({sw} AS DOUBLE) / n_tokens ELSE 0.0 END AS stopword_ratio,
         LEAST(1.0, n_chars / 500.0) AS len_score,
         CASE WHEN n_chars > 0 THEN alpha / n_chars ELSE 0.0 END AS alpha_ratio,
         CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0.0 END AS punct_ratio
  FROM base
)
SELECT doc_id,
       round(0.4 * len_score + 0.3 * alpha_ratio
             + 0.2 * LEAST(1.0, stopword_ratio * 5.0)
             + 0.1 * (1.0 - LEAST(1.0, punct_ratio * 10.0)) + 1e-9, 4) AS quality
FROM r
""".strip()


def _repetition_sql() -> str:
    """Gopher-style repetition signals (quality.repetition_signals twin).

    The most-frequent-bigram count is computed with unnest + GROUP BY here
    (set-oriented SQL); the engine computes it as a row-local sorted-run
    fold — same value, different shape, which is exactly what the parity
    gate should exercise.
    """
    thresholds = (
        f"dup_line_frac > {quality.DUP_LINE_FRAC_MAX}"
        f" OR top_bigram_frac > {quality.TOP_BIGRAM_FRAC_MAX}"
        f" OR symbol_ratio > {quality.SYMBOL_RATIO_MAX}"
    )
    return f"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(list_transform(regexp_split_to_array(text, '\\r?\\n'),
                                    x -> trim(x)),
                     x -> length(x) > 0) AS lines,
         regexp_split_to_array(trim(text), '[ \\t\\r\\n]+') AS w,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '[ \\t\\r\\n]+')) END AS n_tokens
  FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, CAST(len(w) AS BIGINT)),
                i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1])) AS gram
  FROM base WHERE len(w) >= 2
),
bgc AS (SELECT doc_id, gram, COUNT(*) AS c FROM bg GROUP BY doc_id, gram),
bgt AS (SELECT doc_id, MAX(c) AS mx, SUM(c) AS tot FROM bgc GROUP BY doc_id),
sig AS (
  SELECT b.doc_id,
         CASE WHEN len(b.lines) > 0
              THEN round(1.0 - CAST(len(list_distinct(b.lines)) AS DOUBLE)
                             / CAST(len(b.lines) AS DOUBLE), 4)
              ELSE 0.0 END AS dup_line_frac,
         CASE WHEN t.tot IS NOT NULL AND t.tot > 0
              THEN round(CAST(t.mx AS DOUBLE) / CAST(t.tot AS DOUBLE), 4)
              ELSE 0.0 END AS top_bigram_frac,
         CASE WHEN b.n_tokens > 0
              THEN round(CAST(CAST(
                     length(b.text) - length(replace(b.text, '#', ''))
                     + (length(b.text) - length(replace(b.text, '...', ''))) / 3
                     + length(b.text) - length(replace(b.text, '…', ''))
                   AS INT) AS DOUBLE) / CAST(b.n_tokens AS DOUBLE), 4)
              ELSE 0.0 END AS symbol_ratio
  FROM base b LEFT JOIN bgt t ON t.doc_id = b.doc_id
)
SELECT doc_id, dup_line_frac, top_bigram_frac, symbol_ratio,
       ({thresholds}) AS rep_flagged
FROM sig
""".strip()


def _gopher_sql() -> str:
    """Gopher §A1.1 document rules (quality.gopher_rules twin). Every rule
    compares the ROUNDED signal, so both engines decide boundary values
    identically; the reason CASE mirrors the Spark precedence chain."""
    stop_lit = ", ".join(f"'{s}'" for s in quality.GOPHER_STOPWORDS)
    bullet_pred = " OR ".join(
        f"starts_with(x, '{p}')" for p in quality.BULLET_PREFIXES
    )
    ellipsis_pred = " OR ".join(
        f"ends_with(x, '{s}')" for s in quality.ELLIPSIS_SUFFIXES
    )
    return f"""
WITH base AS (
  SELECT doc_id, trim(text) AS t,
         regexp_split_to_array(trim(text), '[ \\t\\r\\n]+') AS w,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '[ \\t\\r\\n]+')) END AS n_words,
         list_filter(list_transform(regexp_split_to_array(text, '\\r?\\n'),
                                    x -> trim(x)),
                     x -> length(x) > 0) AS lines
  FROM documents
),
sig AS (
  SELECT doc_id,
         CAST(n_words AS INT) AS n_words,
         CASE WHEN n_words > 0
              THEN round(CAST(length(regexp_replace(t, '[ \\t\\r\\n]+', '', 'g')) AS DOUBLE)
                         / CAST(n_words AS DOUBLE), 4)
              ELSE 0.0 END AS mean_word_len,
         CASE WHEN n_words > 0
              THEN round(CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                         / CAST(n_words AS DOUBLE), 4)
              ELSE 0.0 END AS alpha_frac,
         CASE WHEN n_words > 0
              THEN CAST(len(list_intersect(list_transform(w, x -> lower(x)),
                                           [{stop_lit}])) AS INT)
              ELSE 0 END AS n_stopwords,
         CASE WHEN len(lines) > 0
              THEN round(CAST(len(list_filter(lines, x -> {bullet_pred})) AS DOUBLE)
                         / CAST(len(lines) AS DOUBLE), 4)
              ELSE 0.0 END AS bullet_frac,
         CASE WHEN len(lines) > 0
              THEN round(CAST(len(list_filter(lines, x -> {ellipsis_pred})) AS DOUBLE)
                         / CAST(len(lines) AS DOUBLE), 4)
              ELSE 0.0 END AS ellipsis_frac
  FROM base
),
labeled AS (
  SELECT *,
         CASE WHEN n_words < {quality.GOPHER_MIN_WORDS}
                OR n_words > {quality.GOPHER_MAX_WORDS} THEN 'word_count'
              WHEN mean_word_len < {quality.GOPHER_MIN_MEAN_WLEN}
                OR mean_word_len > {quality.GOPHER_MAX_MEAN_WLEN} THEN 'word_length'
              WHEN bullet_frac > {quality.GOPHER_BULLET_FRAC_MAX} THEN 'bullet_lines'
              WHEN ellipsis_frac > {quality.GOPHER_ELLIPSIS_FRAC_MAX} THEN 'ellipsis_lines'
              WHEN alpha_frac < {quality.GOPHER_ALPHA_FRAC_MIN} THEN 'non_alpha'
              WHEN n_stopwords < {quality.GOPHER_MIN_STOPWORDS} THEN 'few_stopwords'
              ELSE 'keep' END AS gopher_reason
  FROM sig
)
SELECT doc_id, n_words, mean_word_len, alpha_frac, n_stopwords,
       bullet_frac, ellipsis_frac, gopher_reason,
       gopher_reason <> 'keep' AS gopher_flagged
FROM labeled
""".strip()


def _c4_sql() -> str:
    """C4 §2.2 cleaning rules (quality.c4_rules twin). Sentence count is a
    pure string-length identity (runs of [.!?] collapsed vs deleted) so
    both engines agree bit-for-bit; the reason CASE mirrors the Spark
    precedence chain."""
    terminal_pred = " OR ".join(
        f"ends_with(x, '{p}')" if p != '"' else "ends_with(x, '\"')"
        for p in quality.C4_TERMINAL_PUNCT
    )
    bad_pred = " OR ".join(
        f"contains(low, '{s}')" for s in quality.C4_BAD_SUBSTRINGS
    )
    return f"""
WITH base AS (
  SELECT doc_id, text, lower(text) AS low,
         list_filter(list_transform(regexp_split_to_array(text, '\\r?\\n'),
                                    x -> trim(x)),
                     x -> length(x) > 0) AS lines
  FROM documents
),
k AS (
  SELECT doc_id, text, low, lines,
         list_filter(lines, x -> ({terminal_pred})
                       AND len(regexp_split_to_array(x, '[ \\t\\r\\n]+'))
                           >= {quality.C4_MIN_LINE_WORDS}
                       AND NOT contains(lower(x), 'javascript')) AS kept
  FROM base
),
s AS (
  SELECT doc_id, text, low,
         CAST(len(lines) AS INT) AS n_lines,
         CAST(len(kept) AS INT) AS n_kept_lines,
         -- DuckDB array_to_string([]) is NULL; Spark array_join([]) is ''
         COALESCE(array_to_string(kept, chr(10)), '') AS kept_text
  FROM k
),
sig AS (
  SELECT doc_id, text, low, n_lines, n_kept_lines, kept_text,
         CAST(length(regexp_replace(kept_text, '[.!?]+', '.', 'g'))
              - length(regexp_replace(kept_text, '[.!?]+', '', 'g'))
              AS INT) AS n_sentences
  FROM s
),
labeled AS (
  SELECT *,
         CASE WHEN {bad_pred} THEN 'lorem_ipsum'
              WHEN contains(text, '{{') THEN 'curly_brace'
              WHEN n_sentences < {quality.C4_MIN_SENTENCES}
                THEN 'too_few_sentences'
              ELSE 'keep' END AS c4_reason
  FROM sig
)
SELECT doc_id, n_lines, n_kept_lines, n_sentences, c4_reason,
       c4_reason <> 'keep' AS c4_flagged, md5(kept_text) AS clean_fp
FROM labeled
""".strip()


def _intradoc_sql(seg_chars: int = 120) -> str:
    """Within-doc repeated-segment dedup (dedup.intradoc_segment_dedup
    twin): doc text = span texts in offset order, cut into seg_chars
    character segments, keep first occurrence of each."""
    return f"""
dt AS (
  SELECT doc_id, string_agg(text, '' ORDER BY "offset") AS doc_text
  FROM spans GROUP BY doc_id
),
segs AS (
  SELECT doc_id, CAST(t.i AS INT) AS i,
         substring(doc_text, CAST(t.i * {seg_chars} + 1 AS INT), {seg_chars}) AS seg
  FROM dt
  CROSS JOIN UNNEST(range(CAST(ceil(length(doc_text) / {seg_chars}.0) AS BIGINT))) AS t(i)
),
firsts AS (SELECT doc_id, seg, MIN(i) AS fi FROM segs GROUP BY doc_id, seg),
kept AS (
  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_kept,
         md5(string_agg(seg, '' ORDER BY fi)) AS clean_fp
  FROM firsts GROUP BY doc_id
),
tot AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_segs FROM segs GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(t.n_segs, 0) AS n_segs,
       COALESCE(k.n_kept, 0) AS n_kept,
       CASE WHEN COALESCE(t.n_segs, 0) > 0
            THEN round(CAST(k.n_kept AS DOUBLE) / CAST(t.n_segs AS DOUBLE), 4)
            ELSE 1.0 END AS dedup_ratio,
       COALESCE(k.clean_fp, md5('')) AS clean_fp
FROM dt d LEFT JOIN tot t USING (doc_id) LEFT JOIN kept k USING (doc_id)
""".strip()


def _decontaminate_sql() -> str:
    """n-gram benchmark decontamination (quality.ngram_decontaminate twin).

    Benchmark = docs with doc_id % 7 = 0 (the query uses the same
    deterministic split); hits = DISTINCT shared 8-grams per corpus doc.
    """
    return """
WITH words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '[ \\t\\r\\n]+') AS w
  FROM documents WHERE length(trim(text)) > 0
),
sh8 AS (
  SELECT DISTINCT doc_id AS id, s.shingle
  FROM words
  CROSS JOIN UNNEST(
    list_transform(range(1, CAST(len(w) AS BIGINT) - 6),
                   i -> array_to_string(w[CAST(i AS INT):CAST(i AS INT) + 7], ' '))
  ) AS s(shingle)
  WHERE len(w) >= 8
),
bench AS (SELECT DISTINCT shingle FROM sh8 WHERE id % 7 = 0)
SELECT c.id AS doc_id, CAST(COUNT(*) AS INT) AS n_hits
FROM sh8 c JOIN bench b ON c.shingle = b.shingle
WHERE c.id % 7 <> 0
GROUP BY c.id
""".strip()


def _dedup_paragraphs_sql() -> str:
    """Repeated-paragraph removal oracle (paragraph_dedup twin).

    Chunking is set-oriented here (range + list slice — O(n²/k) doesn't
    matter in an oracle); counts and reassembly mirror the engine exactly:
    drop paragraphs with corpus-wide occurrence ≥ 2, fingerprint the kept
    ones joined with a blank line in document order.
    """
    return f"""
WITH w AS (
  SELECT doc_id, source,
         regexp_split_to_array(trim(text), '[ \\t\\r\\n]+') AS w,
         length(trim(text)) AS nt
  FROM documents
),
paras0 AS (
  SELECT doc_id,
         ['{PARA_HEADER}'] ||
         (CASE WHEN nt = 0 THEN CAST([] AS VARCHAR[])
               ELSE list_transform(
                      range(0, CAST(ceil(len(w) / {PARA_WORDS}.0) AS BIGINT)),
                      i -> array_to_string(
                             w[CAST(i * {PARA_WORDS} + 1 AS INT):CAST(i * {PARA_WORDS} + {PARA_WORDS} AS INT)],
                             ' '))
          END) ||
         ['{PARA_FOOTER_PREFIX}' || source || '{PARA_FOOTER_SUFFIX}'] AS paras
  FROM w
),
ex AS (
  SELECT doc_id, len(paras) AS n_paras,
         unnest(range(1, len(paras) + 1)) AS pos,
         unnest(paras) AS para
  FROM paras0
),
exk AS (SELECT doc_id, n_paras, pos, para, md5(para) AS pk FROM ex),
cnt AS (SELECT pk, COUNT(*) AS n_occ FROM exk GROUP BY pk)
SELECT e.doc_id,
       CAST(MAX(e.n_paras) AS INT) AS n_paras,
       CAST(COUNT(*) FILTER (WHERE c.n_occ < 2) AS INT) AS n_kept,
       md5(COALESCE(string_agg(e.para, chr(10) || chr(10) ORDER BY e.pos)
                    FILTER (WHERE c.n_occ < 2), '')) AS clean_fp
FROM exk e JOIN cnt c ON c.pk = e.pk
GROUP BY e.doc_id
""".strip()


# ------------------------------------------------------------- Spark queries


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The test tables are single parquet files → one input split, which
    # serializes every narrow stage onto one core. A 100 TB table arrives in
    # thousands of splits; repartitioning to the session parallelism restores
    # that shape locally (and is a no-op cost next to the ops measured).
    return spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )


def q_pipeline_extract_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs, media = synthesize_interleaved(spark, sf_dir)
    return extract_flat_no_cache(spark, docs, media)


def q_pipeline_extract_office(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship job's full routed extraction, INCLUDING the office
    (docx/pptx OOXML parse, office.py) spans and the media-validity
    quarantine filter on the pdf page store (media.py verify stub; the
    reference's PIL verify, image.py:43-48). Mirrors jobs/spans_extract.py
    exactly — VERDICT r2 item 5's oracle-checked successor of
    pipeline_extract_flat."""
    from text_extract_api_spark.extractors.media import validate_media_pages

    docs, media, blobs = synthesize_interleaved_office(spark, sf_dir)
    media_ok = (
        validate_media_pages(media)
        .filter(F.col("valid"))
        .select("media_ref", "page_no", "page_text")
    )
    return extract_flat_no_cache(spark, docs, media_ok, office_blobs=blobs)


def q_route_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        synth_flat_spans(spark, sf_dir)
        .groupBy("kind")
        .agg(F.count("*").alias("n_spans"))
    )


def q_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", F.md5("text").alias("content_hash")
    )


def _sim_cache(docs: DataFrame) -> DataFrame:
    return docs.filter(F.col("doc_id") % 10 == 0).select(
        F.md5("text").alias("content_hash")
    )


def q_cache_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn("content_hash", F.md5("text"))
    return docs.join(_sim_cache(_docs(spark, sf_dir)), "content_hash", "left_anti").select(
        "doc_id", "content_hash"
    )


def q_cache_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn("content_hash", F.md5("text"))
    return docs.join(_sim_cache(_docs(spark, sf_dir)), "content_hash", "left_semi").select(
        "doc_id", "content_hash"
    )


def q_dedup_exact_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs, _ = synthesize_interleaved(spark, sf_dir)
    hashed = with_content_hash(docs)
    return (
        hashed.groupBy("content_hash")
        .agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )


_DOCS_DDL = "doc_id long, text string, lang string, source string, n_chars long"


def _docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming source over the documents table. The file stream source
    rejects a bare FILE path in Spark 4 ("basePath must be a directory");
    a glob that matches only the table file makes the source derive its
    basePath from the glob's parent directory instead."""
    return spark.readStream.schema(_DOCS_DDL).parquet(
        f"{sf_dir}/documents.parquet*"
    )


def _drain_stream(writer, spark: SparkSession) -> DataFrame:
    """Start an availableNow streaming query into a fresh memory sink +
    ephemeral checkpoint, drain it, return the sink table. Fresh checkpoint
    per call = always a full drain (a reused checkpoint would silently skip
    already-seen files and return an empty frame on re-run)."""
    import tempfile
    import uuid

    name = f"drain_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="spark_graft_stream_ckpt_")
    q = (
        writer.queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def q_streaming_source_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming pass (not a batch stand-in): drain the
    documents table through the custom stateful operator
    (``applyInPandasWithState``, streaming/stateful.py) with an
    availableNow trigger and return each source's FINAL state. Final totals
    are trigger-layout-independent (monotone per-key accumulation), so the
    batch groupBy oracle checks them exactly; the ``batches`` counter — the
    only trigger-dependent column — is deliberately excluded from the
    checked projection (pinned instead by tests/test_streaming.py)."""
    from text_extract_api_spark.streaming.stateful import running_source_totals

    stream = _docs_stream(spark, sf_dir)
    sink = _drain_stream(
        running_source_totals(stream)
        .writeStream.format("memory")
        .outputMode("update"),
        spark,
    )
    # last update per key = final state (batches is monotone per key)
    return (
        sink.groupBy("source")
        .agg(F.max(F.struct("batches", "docs", "bytes")).alias("m"))
        .select(
            "source",
            F.col("m.docs").alias("docs"),
            F.col("m.bytes").alias("bytes"),
        )
    )


def q_streaming_dedup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (state-store ``dropDuplicates``,
    streaming/dedup.py semantics) drained availableNow; returns the emitted
    distinct content-hash SET — order-independent by construction (which
    doc_id arrives first per hash is scheduling-dependent; the hash set is
    not), so the DISTINCT-md5 oracle checks it exactly."""
    deduped = _docs_stream(spark, sf_dir).select(
        F.md5("text").alias("content_hash")
    ).dropDuplicates(["content_hash"])
    sink = _drain_stream(
        deduped.writeStream.format("memory").outputMode("append"), spark
    )
    return sink.select("content_hash")


_EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def q_streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation — the canonical late-data
    streaming shape (readStream → withWatermark → window() groupBy → append
    sink), drained with an availableNow trigger.

    Append mode emits a window only once the watermark passes its end, so
    the final sink holds exactly the windows whose end ≤ max(ts) − delay:
    the trailing (still-open) windows are deliberately WITHHELD — that
    withholding is the watermark semantics under test, and the DuckDB
    oracle reproduces it with a max(ts)-derived cutoff. Emission is
    trigger-layout-independent (the cutoff depends only on the data's max
    event time), so the oracle is exact. State at scale: one row per
    (window, event_type) in [watermark, now] — bounded by the delay, the
    point of watermarking."""
    ev = spark.readStream.schema(_EVENTS_DDL).parquet(f"{sf_dir}/events.parquet*")
    agg = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    return _drain_stream(
        agg.writeStream.format("memory").outputMode("append"), spark
    )


def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked SESSION-window aggregation (readStream → withWatermark →
    session_window(gap) groupBy → append sink, drained availableNow) — the
    stateful merge-as-you-go sessionization a clickstream pipeline runs,
    where the batch `events_sessionize` is the backfill twin.

    Session semantics: an event extends its session to [ts, ts+gap]; two
    events merge iff the gap between them is ≤ 30 min (Spark's
    session_window merge is INCLUSIVE at the exact boundary — pinned by
    pytest; the oracle breaks at diff > 1800 s, the same predicate as the
    batch operator). Append emits a session once the watermark
    (max event time − delay) passes its END (= last event + gap); trailing
    open sessions are withheld — that withholding is the semantics under
    test, reproduced by the oracle's max(ts)-derived cutoff. The events
    table arrives as one file, so the availableNow drain is one batch and
    no event is late-dropped mid-drain (the same single-source contract as
    `streaming_windowed_counts`). State at scale: one open session per
    active (user, window) inside the delay horizon — bounded by user
    activity, the point of session windows."""
    ev = spark.readStream.schema(_EVENTS_DDL).parquet(f"{sf_dir}/events.parquet*")
    agg = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("string").alias("session_start"),
            F.col("w.end").cast("string").alias("session_end"),
            "n_events",
        )
    )
    return _drain_stream(
        agg.writeStream.format("memory").outputMode("append"), spark
    )


def q_page_explode_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    n = F.greatest(F.lit(1), F.ceil(F.col("n_chars") / 100.0)).cast("int")
    pages = docs.withColumn("k", F.explode(F.sequence(F.lit(0), n - 1))).select(
        "doc_id",
        F.col("k"),
        F.substring(F.col("text"), F.col("k") * 100 + 1, 100).alias("page"),
    )
    return pages.groupBy("doc_id").agg(
        F.count("*").alias("n_pages"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("k", "page")),
                    lambda a, b: a["k"] - b["k"],
                ),
                lambda s: s["page"],
            ),
            " | ",
        ).alias("doc_text"),
    )


def q_first_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", F.substring("text", 1, 100).alias("first_page")
    )


def q_span_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    flat = synth_flat_spans(spark, sf_dir)
    w = (
        W.partitionBy("doc_id")
        .orderBy("offset")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return flat.select(
        "doc_id",
        "offset",
        F.coalesce(F.sum(F.length("text")).over(w), F.lit(0))
        .cast("bigint")
        .alias("char_start"),
    )


def q_transport_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace(F.base64(F.encode("text", "UTF-8")), "[\\r\\n]", "").alias(
            "content_b64"
        ),
        F.length("text").cast("int").alias("n_chars_out"),
    )


def q_filename_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    fname = F.concat(
        F.regexp_replace(
            F.concat(F.lit("doc_"), F.col("doc_id").cast("string"), F.lit(".txt")),
            "\\.",
            "_",
        ),
        F.lit(".pdf"),
    )
    ts = F.date_format(F.lit(RUN_TS).cast("timestamp"), "yyyyMMddHHmmss")
    return _docs(spark, sf_dir).select(
        "doc_id",
        fname.alias("storage_filename"),
        F.concat(F.lit("out/"), ts, F.lit("/"), fname).alias("storage_path"),
    )


def q_pii_anonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_extract_api_spark.extractors.pii import anonymize_col

    seeded = F.concat(
        F.col("text"),
        F.lit(" Contact: john.doe@corp.example.org or +1-202-555-0147 ssn 123-45-6789."),
    )
    return _docs(spark, sf_dir).select(
        "doc_id", anonymize_col(seeded).alias("anonymized")
    )


def q_json_structuring(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.to_json(F.struct("doc_id", "lang", "n_chars")).alias("doc_json"),
    )


def q_extraction_metrics_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # avg emitted as a half-up-rounded ×10⁴ scaled BIGINT: pure integer
    # arithmetic is bit-identical in any engine, unlike double division +
    # round (the two engines' divisions land 1-ulp-different doubles — the
    # only r1 hash failure).
    return (
        _docs(spark, sf_dir)
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .withColumn(
            "avg_chars_x10k",
            F.expr("(10000 * total_chars + (n_docs div 2)) div n_docs"),
        )
    )


def q_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/F10 oracle coverage (r2 verdict item 8): the Observation-based
    in-flight metrics (checkpoint.observe_extraction — the Celery
    ``update_state`` analog, tasks.py:40-94) value-checked against the
    corpus ground truth. The observation rides a consuming noop write, then
    the driver-side scalar metrics become a 1-row frame (metrics ARE driver
    scalars — the legitimate driver-side part of progress reporting)."""
    from text_extract_api_spark.checkpoint import observe_extraction

    docs, _ = synthesize_interleaved(spark, sf_dir)
    observed, obs = observe_extraction(docs.select("doc_id", "spans"), "oracle")
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(int(m["docs"]), int(m["spans"]), int(m["bytes"]))],
        "n_docs long, n_spans long, n_bytes long",
    )


def q_quarantine_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.filter(
        (F.col("n_chars") < 60) | (F.length(F.trim("text")) == 0)
    ).select(
        "doc_id",
        F.when(F.length(F.trim("text")) == 0, F.lit("empty"))
        .otherwise(F.lit("too_short"))
        .alias("reason"),
    )


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", token_count_col(F.col("text")).cast("int").alias("n_tokens")
    )


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish subword-boundary token counts side by side —
    the pair a mix-budgeting pipeline actually wants (whitespace counts
    under-estimate tokenizer output by the punctuation/digit-run factor).
    The corpus text is pure word salad, so a deterministic punctuated
    citation suffix (doc-varying digits, URL, punctuation — same trick as
    the PII query's seeding) makes the two counters actually diverge."""
    seeded = F.concat(
        F.col("text"),
        F.lit(" ref-"),
        F.col("doc_id").cast("string"),
        F.lit("."),
        F.col("n_chars").cast("string"),
        F.lit(": see http://ex.org/a?b=1."),
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        token_count_col(seeded).cast("int").alias("n_tokens_ws"),
        token_count_bpe_col(seeded).cast("int").alias("n_tokens_bpe"),
    )


PARA_WORDS = 12  # words per synthetic paragraph in the dedup_paragraphs corpus
PARA_HEADER = "newsletter home about contact subscribe"
PARA_FOOTER_PREFIX = "copyright "
PARA_FOOTER_SUFFIX = " all rights reserved"


def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide repeated-paragraph (boilerplate) removal over a
    deterministically paragraph-structured corpus: every doc gets a shared
    nav header, 12-word body paragraphs from its own text, and a per-source
    copyright footer. The header is dropped everywhere; footers drop for
    every source with ≥2 docs; body paragraphs survive unless two docs
    collide exactly — precisely the C4/RefinedWeb boilerplate-line pass.

    The body chunking is a single ``aggregate`` fold over the word array
    (the array argument of a higher-order function is evaluated once per
    row) — NOT ``transform(sequence(...), i -> slice(words, ...))``, which
    re-evaluates the split once per paragraph element because Catalyst's
    CSE does not reach inside lambda bodies (O(words²/k) per row).
    """
    docs = _docs(spark, sf_dir)
    words = F.split(F.trim(F.col("text")), WS_SPLIT)
    acc0 = F.struct(
        F.array().cast("array<string>").alias("paras"),
        F.array().cast("array<string>").alias("cur"),
    )

    def step(acc: Column, w: Column) -> Column:
        cur = F.concat(acc["cur"], F.array(w))
        full = F.size(cur) == PARA_WORDS
        return F.struct(
            F.when(
                full, F.concat(acc["paras"], F.array(F.array_join(cur, " ")))
            )
            .otherwise(acc["paras"])
            .alias("paras"),
            F.when(full, F.array().cast("array<string>"))
            .otherwise(cur)
            .alias("cur"),
        )

    def fin(acc: Column) -> Column:
        return F.when(
            F.size(acc["cur"]) > 0,
            F.concat(acc["paras"], F.array(F.array_join(acc["cur"], " "))),
        ).otherwise(acc["paras"])

    body = F.when(
        F.length(F.trim(F.col("text"))) > 0, F.aggregate(words, acc0, step, fin)
    ).otherwise(F.array().cast("array<string>"))
    paras = F.concat(
        F.array(F.lit(PARA_HEADER)),
        body,
        F.array(
            F.concat(
                F.lit(PARA_FOOTER_PREFIX), F.col("source"), F.lit(PARA_FOOTER_SUFFIX)
            )
        ),
    )
    return paragraph_dedup(docs.select("doc_id", paras.alias("paras")))


CHUNK_WIDTH = 32  # words per sliding chunk window
CHUNK_OVERLAP = 8
PACK_BUDGET = 512  # BPE-proxy tokens per packed training sequence


def q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding token-window chunking (RAG / long-doc training prep): width
    32, overlap 8 over each document's word stream. Row-local fold, zero
    shuffles — see chunking.chunk_token_windows for the CSE rationale."""
    return chunk_token_windows(
        _docs(spark, sf_dir), width=CHUNK_WIDTH, overlap=CHUNK_OVERLAP
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-cut sequence packing bookkeeping: lay docs end-to-end in
    doc_id order, cut every 512 BPE-proxy tokens; report each doc's landing
    sequence, offset, and span count. Distributed two-level prefix scan —
    one range shuffle + a broadcast join of a partitions-count-sized frame
    (never a single-partition global window)."""
    return pack_sequences(_docs(spark, sf_dir), budget=PACK_BUDGET)


MM_MEDIA_TOKENS = 576  # fixed vision-token price per media span (ViT-patch-style)
MM_PACK_BUDGET = 2048


def q_span_kind_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved-payload composition stats: per document, how many spans,
    how many are media (pdf/image), total extracted text chars, and the
    media fraction — the first thing a multimodal curation pass computes
    over an interleaved corpus. One groupBy(doc_id) with map-side combine;
    the span synthesis itself is pure codegen."""
    flat = synth_flat_spans(spark, sf_dir)
    is_media = F.col("kind").isin("pdf", "image")
    n_media = F.sum(F.when(is_media, 1).otherwise(0))
    return flat.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_spans"),
        n_media.cast("int").alias("n_media_spans"),
        F.sum(F.when(~is_media, F.length("text")).otherwise(0))
        .cast("bigint")
        .alias("n_text_chars"),
        F.round(n_media / F.count("*") + F.lit(1e-9), 4).alias("media_ratio"),
    )


def q_pack_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal sequence packing over the interleaved corpus: each doc's
    cost = per-span BPE-proxy tokens for text kinds + a fixed 576-token
    vision price per media span (how VLM training mixes budget image
    patches); docs then pack into 2048-token sequences via the same
    distributed two-level prefix scan as ``pack_sequences``."""
    flat = synth_flat_spans(spark, sf_dir)
    cost = F.when(
        F.col("kind").isin("pdf", "image"), F.lit(MM_MEDIA_TOKENS)
    ).otherwise(token_count_bpe_col(F.col("text")))
    per_doc = flat.groupBy("doc_id").agg(
        F.sum(cost).cast("bigint").alias("n_tokens")
    )
    return pack_sequences(per_doc, budget=MM_PACK_BUDGET, count_col="n_tokens")


def q_url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus stats + blocklist flag (the C4/RefinedWeb URL
    filtering pass). The corpus text is word salad, so deterministic URLs
    are seeded per doc (same trick as the PII query): a www-prefixed
    source-derived domain on every doc and a mixed-case blocklisted ad
    domain on every 5th — exercising the lowercase + www-strip
    normalization. One explode + one groupBy(domain) shuffle with map-side
    combine; extraction itself is pure codegen."""
    tld = F.element_at(
        F.array(F.lit("com"), F.lit("org"), F.lit("net")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    seeded = F.concat(
        F.col("text"),
        F.lit(" via https://www."),
        F.col("source"),
        F.lit("-news."),
        tld,
        F.lit("/a/"),
        F.col("doc_id").cast("string"),
        F.when(
            F.col("doc_id") % 5 == 0, F.lit(" http://Ads.Example/banner?id=1 ")
        ).otherwise(F.lit(" ")),
    )
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(url_domains_col(seeded)).alias("domain"))
        .groupBy("domain")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_occ"),
        )
        .withColumn("blocked", F.col("domain").isin(URL_BLOCKLIST))
    )


def _seeded_url_col() -> F.Column:
    """Deterministic messy URL per doc: ~97 canonical targets, each reached
    through scheme/host-case, default-port, trailing-slash, param-order,
    tracking-param and fragment variants keyed on doc_id arithmetic — every
    normalization step in urlnorm.canonical_url_col has live work."""
    g = (F.col("doc_id") % 97).cast("string")
    scheme = F.when(F.col("doc_id") % 2 == 0, F.lit("https")).otherwise(F.lit("HTTPS"))
    host = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("WWW.Example-"), g, F.lit(".COM")))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("www.example-"), g, F.lit(".com")))
        .otherwise(F.concat(F.lit("example-"), g, F.lit(".com")))
    )
    port = F.when(F.col("doc_id") % 4 == 0, F.lit(":443")).otherwise(F.lit(""))
    path = F.concat(
        F.lit("/articles/item-"), g,
        F.when(F.col("doc_id") % 5 == 0, F.lit("")).otherwise(F.lit("/")),
    )
    params = F.when(
        F.col("doc_id") % 2 == 0, F.concat(F.lit("id="), g, F.lit("&ref=home"))
    ).otherwise(F.concat(F.lit("ref=home&id="), g))
    tracking = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit("&utm_source=feed")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("&fbclid=X"), F.col("doc_id").cast("string")),
        ).otherwise(F.lit("")),
    )
    frag = F.when(F.col("doc_id") % 2 == 1, F.lit("#sec-2")).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, port, path, F.lit("?"), params, tracking, frag)


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup (crawl-frontier normalization: RFC 3986 case/
    port/slash normalization + tracking-param strip + param sort, then
    group-by-canonical). All canonicalization is row-local codegen; the
    dedup is ONE hash-aggregate shuffle with map-side combine — the minimum
    for a 10^12-row frontier. See functions/urlnorm.py for the step list."""
    from text_extract_api_spark.functions.urlnorm import canonical_url_dedup

    urls = _docs(spark, sf_dir).select("doc_id", _seeded_url_col().alias("url"))
    return canonical_url_dedup(urls)


def _url_canonicalize_sql() -> str:
    # mirrors _seeded_url_col + urlnorm.canonical_url_col step for step
    return """
WITH urls AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END) || '://' ||
    (CASE WHEN doc_id % 3 = 0 THEN 'WWW.Example-' || CAST(doc_id % 97 AS VARCHAR) || '.COM'
          WHEN doc_id % 3 = 1 THEN 'www.example-' || CAST(doc_id % 97 AS VARCHAR) || '.com'
          ELSE 'example-' || CAST(doc_id % 97 AS VARCHAR) || '.com' END) ||
    (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END) ||
    '/articles/item-' || CAST(doc_id % 97 AS VARCHAR) ||
    (CASE WHEN doc_id % 5 = 0 THEN '' ELSE '/' END) ||
    '?' ||
    (CASE WHEN doc_id % 2 = 0 THEN 'id=' || CAST(doc_id % 97 AS VARCHAR) || '&ref=home'
          ELSE 'ref=home&id=' || CAST(doc_id % 97 AS VARCHAR) END) ||
    (CASE WHEN doc_id % 3 = 0 THEN '&utm_source=feed' ELSE '' END) ||
    (CASE WHEN doc_id % 5 = 0 THEN '&fbclid=X' || CAST(doc_id AS VARCHAR) ELSE '' END) ||
    (CASE WHEN doc_id % 2 = 1 THEN '#sec-2' ELSE '' END) AS raw_url
  FROM documents
),
split1 AS (
  SELECT doc_id, raw_url, str_split(raw_url, '#')[1] AS no_frag FROM urls
),
parts AS (
  SELECT doc_id, raw_url,
    lower(regexp_extract(no_frag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(regexp_replace(no_frag, '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^([^/?]+)', 1)) AS hostport,
    regexp_replace(regexp_replace(no_frag, '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^[^/?]+', '') AS tail
  FROM split1
),
hostfix AS (
  SELECT doc_id, raw_url, scheme, tail,
    CASE WHEN (scheme = 'https' AND hostport LIKE '%:443')
           OR (scheme = 'http' AND hostport LIKE '%:80')
         THEN split_part(hostport, ':', 1) ELSE hostport END AS host0
  FROM parts
),
pathq AS (
  SELECT doc_id, raw_url, scheme,
    CASE WHEN host0 LIKE 'www.%' THEN substring(host0, 5) ELSE host0 END AS host,
    str_split(tail, '?')[1] AS path0,
    CASE WHEN contains(tail, '?') THEN str_split(tail, '?')[2] ELSE '' END AS query
  FROM hostfix
),
norm AS (
  SELECT doc_id, raw_url, scheme, host,
    CASE WHEN p1 = '' THEN '/' ELSE p1 END AS path,
    array_to_string(
      list_sort(list_filter(str_split(query, '&'),
        x -> x <> '' AND NOT starts_with(x, 'utm_')
          AND NOT starts_with(x, 'fbclid') AND NOT starts_with(x, 'gclid'))),
      '&') AS q
  FROM (
    SELECT *, CASE WHEN length(path0) > 1 AND path0 LIKE '%/'
                   THEN substring(path0, 1, length(path0) - 1) ELSE path0 END AS p1
    FROM pathq
  )
),
canon AS (
  SELECT doc_id, raw_url,
    scheme || '://' || host || path ||
    (CASE WHEN q <> '' THEN '?' || q ELSE '' END) AS canonical_url
  FROM norm
)
SELECT canonical_url, MIN(doc_id) AS keeper_doc_id,
       COUNT(DISTINCT raw_url) AS n_variants, COUNT(*) AS n_docs
FROM canon GROUP BY canonical_url
""".strip()


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length distribution (p50/p90/p99 of n_chars).
    Exact mode here (the oracle-checked path); the 100-TB swap is
    ``length_quantiles(..., approx=True)`` — a mergeable bounded-size
    sketch, error-bounded against this path by
    tests/test_quality.py::test_length_quantiles_approx."""
    from text_extract_api_spark.functions.textstats import length_quantiles

    return length_quantiles(_docs(spark, sf_dir), approx=False)


VOCAB_K = 200


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide term frequency, top-200 (tokenizer-vocabulary sizing /
    stopword discovery). The explode moves the token stream, but partial
    (map-side) aggregation collapses each partition's repeats before the
    exchange — the shuffle carries distinct-words-per-partition, not
    tokens; the final top-k is a TakeOrdered, never a global sort."""
    return (
        _docs(spark, sf_dir)
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), WS_SPLIT)).alias(
                "word"
            )
        )
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("n_occ"))
        .orderBy(F.desc("n_occ"), F.asc("word"))
        .limit(VOCAB_K)
    )


TFIDF_K = 5


def q_tfidf_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-5 TF-IDF terms (keyword extraction / topic balancing).
    Rank is over the 6-decimal-rounded score so JVM and DuckDB order the
    same doubles; scale shape documented in textstats.tfidf_topk_terms
    (map-side-combined explode, AQE-skew-split term join, broadcast
    one-row N, per-doc window)."""
    from text_extract_api_spark.functions.textstats import tfidf_topk_terms

    return tfidf_topk_terms(_docs(spark, sf_dir), k=TFIDF_K)


def _tfidf_sql() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '[ \\t\\r\\n]+')) AS term
  FROM documents WHERE length(trim(text)) > 0
),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
dfc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents
      WHERE length(trim(text)) > 0),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfc.df,
         round(tf.tf * ln((n.n_docs + 1.0) / (dfc.df + 1.0)) + 1e-9, 6) AS score
  FROM tf JOIN dfc USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY doc_id ORDER BY score DESC, term ASC) AS INT) AS rnk
  FROM scored
)
SELECT doc_id, term, tf, df, score, rnk FROM ranked WHERE rnk <= {TFIDF_K}
""".strip()


NER_SEED = (
    " Dr. Alice Smith of Initech Corp. met Bob Jones, said a memo from Acme Inc."
)


def q_ner_anonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based NER anonymization (the deterministic half of the build
    contract's 'regex/NER pass'): honorific-triggered person names,
    legal-suffix orgs, reporting-verb person cues — chained engine-portable
    replaces like the PII pass. The corpus is word salad, so a deterministic
    entity-bearing suffix is seeded per doc (same trick as pii_anonymize)."""
    seeded = F.concat(F.col("text"), F.lit(NER_SEED))
    return _docs(spark, sf_dir).select(
        "doc_id", ner_anonymize_col(seeded).alias("ner_masked")
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", lang_id_col(F.col("text")).alias("lang_pred")
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", quality_score_col(F.col("text")).alias("quality")
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", fingerprint_col(F.col("text")).alias("fingerprint")
    )


def q_sample_soft_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-proportional soft sampling (FineWeb-Edu retention shape):
    every document admitted with probability = its round-4dp composite
    quality score, via the deterministic md5-threshold draw — a calibrated
    long tail of mid-quality text instead of a percentile cliff. Row-local
    codegen predicate, zero shuffles; monotone in score (re-scoring can
    only add docs)."""
    from text_extract_api_spark.functions.sampling import soft_sample

    scored = _docs(spark, sf_dir).select(
        "doc_id", quality_score_col(F.col("text")).alias("quality")
    )
    return soft_sample(scored, F.col("quality"))


def _sample_soft_sql() -> str:
    from text_extract_api_spark.functions.sampling import soft_sample_sql

    return (
        f"WITH q AS ({_quality_sql()})\n"
        f"SELECT doc_id, quality FROM q WHERE "
        + soft_sample_sql("quality")
    )


SAMPLE_FRACS = {"en": 0.5, "de": 0.3, "fr": 0.3, "es": 0.2}
SAMPLE_DEFAULT = 0.1
QUOTA_PER_SOURCE = 40
N_SHARDS = 8
MIX_TARGET_PPM = {"en": 400000, "de": 150000, "fr": 150000, "es": 150000, "zh": 150000}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language sampling (training-mix construction):
    hash-threshold keep decisions, zero shuffles, reproducible on restart."""
    from text_extract_api_spark.functions.sampling import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir), SAMPLE_FRACS, default_fraction=SAMPLE_DEFAULT
    ).select("doc_id", "lang")


def q_corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language upsampling weights to hit a target token mix — scaled
    integer arithmetic end-to-end (bit-stable across engines)."""
    from text_extract_api_spark.functions.sampling import mix_weights

    docs = _docs(spark, sf_dir).withColumn(
        "n_tokens", token_count_col(F.col("text")).cast("bigint")
    )
    return mix_weights(docs, MIX_TARGET_PPM, F.col("n_tokens"))


def q_dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs(_docs(spark, sf_dir), threshold=JACCARD_T)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_candidate_pairs(_docs(spark, sf_dir))


def q_dedup_minhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_near_dups(_docs(spark, sf_dir), threshold=NEARDUP_T)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(_docs(spark, sf_dir))


INCR_HIST_FRAC = 0.8  # deterministic historical share for the incremental split


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup: a 'daily batch' (a deterministic 20% of
    docs by md5 threshold — no RNG, restart-stable) is checked against a
    PERSISTED historical signature store (the other 80%) plus its own
    earlier docs. The historical text is never re-read or re-hashed — only
    its band table (built once per corpus epoch, partitioned by band) joins
    the batch's bands. This is the only shape that absorbs a continuous
    crawl at 10^12 docs: per-day work scales with the batch, not the
    corpus. See dedup.incremental_near_dup_flags for the plan breakdown."""
    from text_extract_api_spark.functions.dedup import (
        build_signature_store,
        incremental_near_dup_flags,
    )
    from text_extract_api_spark.functions.sampling import U32, hash_u32_col

    docs = _docs(spark, sf_dir)
    u = hash_u32_col(F.col("doc_id"), "incr")
    threshold = int(INCR_HIST_FRAC * U32)
    hist = docs.filter(u < threshold)
    batch = docs.filter(u >= threshold)
    store, ok = _store_path("sigstore", sf_dir, "hist80", table="documents")
    _ensure_store(lambda tmp: build_signature_store(hist, tmp), store, ok)
    return incremental_near_dup_flags(spark, store, batch)


def _dedup_incremental_sql() -> str:
    from text_extract_api_spark.functions.sampling import U32, hash_u32_sql

    threshold = int(INCR_HIST_FRAC * U32)
    split_u = hash_u32_sql("id", "incr")
    return f"""
WITH {_SHINGLE_CTE},
{_minhash_sig_sql()},
{_lsh_bands_sql()},
tagged AS (
  SELECT b.id, b.band, b.band_key, ({split_u}) < {threshold} AS is_hist
  FROM bands b
),
hb AS (SELECT id, band, band_key FROM tagged WHERE is_hist),
nb AS (SELECT id, band, band_key FROM tagged WHERE NOT is_hist),
hist_c AS (
  SELECT n.id, COUNT(DISTINCT h.id) AS n_hist_cands
  FROM nb n JOIN hb h ON n.band = h.band AND n.band_key = h.band_key
  GROUP BY n.id
),
prior_c AS (
  SELECT a.id, COUNT(DISTINCT b.id) AS n_prior_cands
  FROM nb a JOIN nb b ON a.band = b.band AND a.band_key = b.band_key AND b.id < a.id
  GROUP BY a.id
),
ids AS (SELECT DISTINCT id FROM nb)
SELECT ids.id AS doc_id,
       COALESCE(hc.n_hist_cands, 0) AS n_hist_cands,
       COALESCE(pc.n_prior_cands, 0) AS n_prior_cands,
       (COALESCE(hc.n_hist_cands, 0) = 0 AND COALESCE(pc.n_prior_cands, 0) = 0) AS kept
FROM ids
LEFT JOIN hist_c hc ON hc.id = ids.id
LEFT JOIN prior_c pc ON pc.id = ids.id
""".strip()


def q_dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on NFC-normalized content: the same visible string
    arrives from the web composed (U+00E9) and decomposed (U+0065 U+0301),
    and a byte-keyed dedup wrongly keeps both. The corpus text is ASCII
    word salad, so the canonically-equivalent pair is seeded per doc
    (composed vs decomposed accent by doc parity on a source-derived
    payload — the same seeding idiom as the PII/URL queries); groups
    collapse across byte forms ONLY if NFC ran. Normalization is a
    row-local Arrow kernel (textstats.nfc_normalize_col), dedup is the
    two-level agg (no countDistinct Expand) — same minimal-shuffle shape
    as url_canonicalize."""
    from text_extract_api_spark.functions.textstats import (
        normalized_fingerprint_col,
    )

    docs = _docs(spark, sf_dir)
    payload = F.concat(
        F.col("source"),
        F.lit(" caf"),
        # escapes, not glyphs: editors silently compose a decomposed
        # e+U+0301 into U+00E9, which would destroy the test payload
        F.when(F.col("doc_id") % 2 == 0, F.lit("\u00e9")).otherwise(
            F.lit("e\u0301")
        ),
    )
    base = docs.select(
        "doc_id",
        "source",
        payload.alias("payload"),
        normalized_fingerprint_col(payload).alias("norm_fp"),
    )
    per_form = base.groupBy("norm_fp", "payload").agg(
        F.count("*").alias("n_rows"),
        F.min("doc_id").alias("min_doc"),
        F.min("source").alias("min_src"),
    )
    return per_form.groupBy("norm_fp").agg(
        F.min("min_src").alias("source"),
        F.min("min_doc").alias("keeper_doc_id"),
        F.count("*").cast("bigint").alias("n_byte_forms"),
        F.sum("n_rows").cast("bigint").alias("n_docs"),
    )


def _dedup_exact_normalized_sql() -> str:
    return """
WITH c AS (
  SELECT doc_id, source,
         source || ' caf' ||
         (CASE WHEN doc_id % 2 = 0 THEN chr(233) ELSE 'e' || chr(769) END)
           AS payload
  FROM documents
),
n AS (
  SELECT doc_id, source, payload, md5(nfc_normalize(payload)) AS norm_fp
  FROM c
),
pr AS (
  SELECT norm_fp, payload, COUNT(*) AS n_rows, MIN(doc_id) AS min_doc,
         MIN(source) AS min_src
  FROM n GROUP BY norm_fp, payload
)
SELECT norm_fp, MIN(min_src) AS source, MIN(min_doc) AS keeper_doc_id,
       COUNT(*) AS n_byte_forms, CAST(SUM(n_rows) AS BIGINT) AS n_docs
FROM pr GROUP BY norm_fp
""".strip()


def q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals — row-local, zero shuffles."""
    return quality.repetition_signals(_docs(spark, sf_dir))


def q_decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark 8-gram decontamination: docs with doc_id % 7 == 0 stand in
    for the held-out eval set; everything else is the training corpus."""
    docs = _docs(spark, sf_dir)
    return quality.ngram_decontaminate(
        docs.filter(F.col("doc_id") % 7 != 0),
        docs.filter(F.col("doc_id") % 7 == 0),
    )


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered n-gram decontamination — the 100-TB scale path:
    a fixed-size (128 KiB) broadcast bitmap gates the corpus gram stream
    row-local in codegen, so only Bloom survivors (~true hits + ~2% FPs)
    enter the exact string semi-join and the shuffle. Exactness restored
    by the semi-join, so the oracle is the exact path's (same split as
    decontaminate_ngrams: doc_id % 7 == 0 is the held-out eval set)."""
    docs = _docs(spark, sf_dir)
    return quality.ngram_decontaminate_bloom(
        docs.filter(F.col("doc_id") % 7 != 0),
        docs.filter(F.col("doc_id") % 7 == 0),
    )


def q_quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher §A1.1 document-level rules (word-count/word-length bounds,
    bullet/ellipsis line fractions, alpha-word fraction, required-stopword
    presence) — row-local, zero shuffles; the §A1.1 repetition half is
    quality_repetition."""
    return quality.gopher_rules(_docs(spark, sf_dir))


def q_quality_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 §2.2 cleaning (Raffel et al. 2020): line-level retention
    (terminal punctuation, >=5 words, no 'javascript') + document-level
    drops (lorem ipsum / curly brace / <3 surviving sentences) — the only
    pass that edits INSIDE documents line-by-line. Row-local, zero
    shuffles."""
    return quality.c4_rules(_docs(spark, sf_dir))


def q_dedup_intradoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeated-segment removal over the interleaved span
    table (the oversize docs' 50×-repeated chunk collapses to one segment).
    Row-local Arrow mapInPandas, zero shuffles."""
    from text_extract_api_spark.functions.dedup import intradoc_segment_dedup

    docs, _ = synthesize_interleaved(spark, sf_dir)
    return intradoc_segment_dedup(docs)


QUALITY_MIN = 0.45  # drop threshold for the filter funnel (~p5 at sf0.01)


def q_corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc keep/drop verdict — the end-to-end curation decision a
    training-data pipeline actually ships, composed from the engine's own
    operators with first-reason precedence:

      near_dup (non-canonical member of a MinHash near-dup cluster)
      → lang_und (language ID inconclusive)
      → low_quality (composite quality score < QUALITY_MIN)
      → repetition (Gopher-style repetition flags)
      → keep

    Plan shape: all signal columns are row-local expressions over one scan;
    the only joins are the pair-scale cluster resolution and one left join
    of the corpus against the non-canonical set. That join is hinted merge,
    not broadcast: at web scale near-dup membership is corpus-scale (web
    dedup routinely drops 30-50%), so a broadcast would OOM — AQE still
    downgrades to broadcast when the set is genuinely small.
    """
    from text_extract_api_spark.functions.prep import funnel_verdicts

    return funnel_verdicts(
        _docs(spark, sf_dir),
        neardup_threshold=NEARDUP_T,
        quality_min=QUALITY_MIN,
    )


def q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) data card — the corpus-statistics report every
    training run starts from: doc/token/BPE-token totals, mean composite
    quality, language-ID failures, Gopher and repetition flag counts.
    Every signal is a row-local expression over ONE scan; the single
    exchange is the map-side-combined groupBy on (lang, source) — a
    strata-count-sized shuffle at any corpus size. Mean quality sums
    FIXED-POINT (×10⁴) per-doc scores so the aggregation is exact integer
    arithmetic — no partition-order float drift (unigram_logppl rule)."""
    docs = _docs(spark, sf_dir)
    g = quality.gopher_cols("text")
    rep = quality.repetition_cols("text")
    enriched = docs.select(
        "lang",
        "source",
        token_count_col(F.col("text")).cast("bigint").alias("n_tok"),
        token_count_bpe_col(F.col("text")).cast("bigint").alias("n_bpe"),
        F.round(quality_score_col(F.col("text")) * 10000, 0)
        .cast("bigint")
        .alias("q_q"),
        (lang_id_col(F.col("text")) == "und").cast("bigint").alias("und"),
        (quality.gopher_reason_col(g) != "keep").cast("bigint").alias("gflag"),
        quality.rep_flagged_col(rep).cast("bigint").alias("rflag"),
    )
    return enriched.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.sum("n_bpe").cast("bigint").alias("total_bpe_tokens"),
        # +1e-9: an exact-decimal quotient (integer sums) lands on a .xxxx5
        # knife edge where Spark's shortest-repr BigDecimal HALF_UP and
        # DuckDB's scale-multiply rounding disagree — the shared epsilon
        # pushes both engines off the edge (quality_score rule)
        F.round(
            F.sum("q_q").cast("double")
            / (F.count("*").cast("double") * F.lit(10000.0))
            + F.lit(1e-9),
            4,
        ).alias("mean_quality"),
        F.sum("und").cast("bigint").alias("n_lang_und"),
        F.sum("gflag").cast("bigint").alias("n_gopher_flagged"),
        F.sum("rflag").cast("bigint").alias("n_rep_flagged"),
    )


def q_neardup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: the near-dup clusters keep their
    HIGHEST-quality member (id tiebreak) instead of the minimum id — what
    a production dedup ships. Composes three parity-proven operators:
    minhash pair generation → connected components → composite quality."""
    from text_extract_api_spark.functions.clustering import (
        cluster_keep_best,
        neardup_clusters,
    )

    docs = _docs(spark, sf_dir)
    pairs = minhash_near_dups(docs, threshold=NEARDUP_T).select("id_a", "id_b")
    members = neardup_clusters(pairs).select("doc_id", "cluster_id")
    scored = docs.select(
        "doc_id", quality_score_col(F.col("text")).alias("quality")
    )
    return cluster_keep_best(members, scored)


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs → connected components → canonical doc per
    cluster (large-star/small-star; clustering.py). The end product of the
    dedup surface: 'keep one copy of each template chain'."""
    from text_extract_api_spark.functions.clustering import neardup_clusters

    pairs = minhash_near_dups(_docs(spark, sf_dir), threshold=NEARDUP_T).select(
        "id_a", "id_b"
    )
    return neardup_clusters(pairs)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    scored = emb.crossJoin(F.broadcast(q)).select(
        "vec_id",
        F.round(
            _dot(F.col("embedding"), F.col("q_emb"))
            / (_norm(F.col("embedding")) * _norm(F.col("q_emb"))),
            4,
        ).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(ANN_K)


ANN_BATCH_Q = 8  # query vectors per serving batch
ANN_BATCH_K = 5


def q_ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN serving shape: top-5 by cosine for 8 query vectors at once.
    Per-partition numpy-vectorized scoring emits only partition-local top-k
    survivors; a tiny window picks the global winners (see
    similarity.cosine_topk_batch for the no-full-shuffle rationale)."""
    from text_extract_api_spark.functions.similarity import (
        _memo,
        cosine_topk_batch,
    )

    emb = _emb(spark, sf_dir)
    queries = _memo(
        spark,
        f"{_corpus_fingerprint(sf_dir)}#query_batch",
        lambda: [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in emb.filter(F.col("vec_id") < ANN_BATCH_Q)
            .select("vec_id", "embedding")
            .collect()
        ],
    )
    if not queries:  # empty corpus: a batch of zero queries is empty output
        return spark.createDataFrame([], "query_id bigint, vec_id bigint, score double")
    return cosine_topk_batch(emb, queries, k=ANN_BATCH_K)


def _ann_batch_sql() -> str:
    dot = _vec_dot_sql("e.embedding", "q.embedding")
    ne = _vec_dot_sql("e.embedding", "e.embedding")
    nq = _vec_dot_sql("q.embedding", "q.embedding")
    return f"""
WITH s AS (
  SELECT q.vec_id AS query_id, e.vec_id,
         round(({dot}) / (sqrt({ne}) * sqrt({nq})), 4) AS score
  FROM embeddings e,
       (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {ANN_BATCH_Q}) q
),
r AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
  FROM s
)
SELECT query_id, vec_id, score FROM r WHERE rn <= {ANN_BATCH_K}
""".strip()


def q_ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k over the INT8-quantized store (FAISS-SQ8 family): per-vector
    symmetric scale, sign-aware half-away rounding, score = cosine of the
    integer codes. The store is 4x smaller than the float32 corpus — at
    10^12 vectors that factor decides whether the scan is page-cache-
    resident — and the integer dot products are exact in any accumulation
    order, so numpy, the JVM and DuckDB agree bit-for-bit (a float-sum
    kernel could not make that promise; perf note #9). Store built once
    per corpus fingerprint; zero-norm vectors excluded at build (cosine
    undefined), mirroring the oracle's maxabs > 0 filter."""
    from text_extract_api_spark.functions.similarity import (
        build_quantized_store,
        quantized_topk_stored,
    )

    emb = _emb(spark, sf_dir)
    query_vec = _query_vec(spark, sf_dir, emb)
    if query_vec is None or not any(float(x) != 0.0 for x in query_vec):
        return spark.createDataFrame([], "vec_id bigint, score double")
    store, ok = _store_path("qann", sf_dir, "sq8")
    _ensure_store(lambda tmp: build_quantized_store(emb, tmp), store, ok)
    return quantized_topk_stored(spark, store, query_vec, k=ANN_K)


def _ann_quantized_sql() -> str:
    dotq = " + ".join(f"e.q[{i}] * qq.q[{i}]" for i in range(1, EMB_DIMS + 1))
    ne = " + ".join(f"e.q[{i}] * e.q[{i}]" for i in range(1, EMB_DIMS + 1))
    nq = " + ".join(f"qq.q[{i}] * qq.q[{i}]" for i in range(1, EMB_DIMS + 1))
    return f"""
WITH m AS (
  SELECT vec_id,
         embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
  FROM embeddings
),
qz AS (
  SELECT vec_id,
         list_transform(embedding, x -> CASE WHEN CAST(x AS DOUBLE) >= 0
             THEN floor(CAST(x AS DOUBLE) * (127.0 / maxabs) + 0.5)
             ELSE -floor(-CAST(x AS DOUBLE) * (127.0 / maxabs) + 0.5) END) AS q
  FROM m WHERE maxabs > 0
)
SELECT e.vec_id, round(({dotq}) / (sqrt({ne}) * sqrt({nq})), 4) AS score
FROM qz e, (SELECT q FROM qz WHERE vec_id = 0) qq
ORDER BY score DESC, e.vec_id ASC
LIMIT {ANN_K}
""".strip()


def _corpus_fingerprint(sf_dir: str, table: str = "embeddings") -> str:
    """CONTENT FINGERPRINT of a corpus source table (sorted part-file names
    + sizes + ns-resolution mtimes) — the shared cache key for index stores
    AND the query-vector/batch memos, so a corpus regenerated at the same
    path within one SparkSession misses every cache (ADVICE r3: the bare
    sf_dir memo key returned stale probe vectors after regeneration)."""
    import hashlib
    import os as _os

    src = f"{sf_dir}/{table}.parquet"
    if _os.path.isdir(src):
        parts = []
        for name in sorted(_os.listdir(src)):
            st = _os.stat(_os.path.join(src, name))
            parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
        key = src + "|" + "|".join(parts)
    else:
        st = _os.stat(src)
        key = f"{src}:{st.st_size}:{st.st_mtime_ns}"
    return hashlib.md5(key.encode()).hexdigest()[:12]


def _store_path(
    prefix: str, sf_dir: str, variant: str, table: str = "embeddings"
) -> tuple[str, str]:
    """Index-store location keyed by the corpus content fingerprint, plus
    the build-success marker path. Directory-level st_size/whole-second
    st_mtime (the r2 key) can alias a corpus regenerated within the same
    second (ADVICE r2); isdir alone is not a build marker — write.parquet
    creates the directory before completing."""
    store = f"/tmp/{prefix}_{_corpus_fingerprint(sf_dir, table)}_{variant}"
    return store, f"{store}/_BUILD_OK"


def _ensure_store(build_fn, store: str, ok_marker: str) -> None:
    """Build the index into a temp dir, mark success INSIDE it, then
    atomically rename into place — a concurrent session either sees the
    complete store or builds its own temp copy; nobody ever probes a
    half-written store (ADVICE r2: check-then-build raced)."""
    import os as _os
    import shutil as _shutil

    if _os.path.exists(ok_marker):
        return
    tmp = f"{store}.build{_os.getpid()}"
    _shutil.rmtree(tmp, ignore_errors=True)
    build_fn(tmp)
    open(f"{tmp}/_BUILD_OK", "w").close()
    if _os.path.isdir(store) and not _os.path.exists(ok_marker):
        _shutil.rmtree(store, ignore_errors=True)  # crashed prior build
    try:
        _os.rename(tmp, store)
    except OSError:
        # a concurrent builder renamed first — identical content, keep theirs
        _shutil.rmtree(tmp, ignore_errors=True)


def _query_vec(spark: SparkSession, sf_dir: str, emb: DataFrame) -> list[float]:
    """The probe vector (vec_id 0), memoized per application+corpus like the
    store relations: fetching it is query scaffolding, not part of the
    measured ANN probe, and a serving layer holds its query batch in hand."""
    from text_extract_api_spark.functions.similarity import _memo

    def fetch():
        row = emb.filter(F.col("vec_id") == 0).select("embedding").first()
        # empty corpus / slice: no probe vector exists — callers emit an
        # empty top-k instead of crashing (a 100 TB run WILL see empty
        # slices; None is memoized like any other corpus-keyed answer)
        return None if row is None else [float(x) for x in row[0]]

    return _memo(spark, f"{_corpus_fingerprint(sf_dir)}#query_vec", fetch)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path: probe a PRE-BUCKETED store so the scan is partition-
    pruned (r1 computed buckets over the whole corpus at query time — a full
    scan that only skipped scoring). The store is built once per corpus (at
    10^12 vectors: the Iceberg partition spec); the query vector is a
    one-row literal lookup, the legitimate driver-side part of ANN serving.
    Candidates = query bucket + Hamming-1 probes ≡ the oracle's
    hamming ≤ 1 filter."""
    import os as _os

    from text_extract_api_spark.functions.similarity import (
        build_bucket_store,
        lsh_topk_stored,
    )

    emb = _emb(spark, sf_dir)
    query_vec = _query_vec(spark, sf_dir, emb)
    if query_vec is None:  # empty corpus: nothing to probe, no store to build
        return spark.createDataFrame([], "vec_id bigint, score double")
    store, ok_marker = _store_path("spark_graft_ann_store", sf_dir, str(ANN_PLANES))
    _ensure_store(
        lambda d: build_bucket_store(emb, d, ANN_PLANES, EMB_DIMS), store, ok_marker
    )
    return lsh_topk_stored(
        spark, store, query_vec, k=ANN_K, n_planes=ANN_PLANES, multiprobe=True
    )


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_neardup_pairs(
        _emb(spark, sf_dir), threshold=EMB_NEARDUP_T,
        n_planes=EMB_NEARDUP_PLANES, n_dims=EMB_DIMS,
        n_bands=EMB_NEARDUP_BANDS,
    )


def q_semdedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): deterministic-seed Lloyd k-means over
    the embedding table, then cosine near-dup flags WITHIN each cluster —
    the per-cluster quadratic that replaces the corpus-quadratic dedup.
    Distributed Lloyd: row-local assignment against broadcast centroid
    literals + partial-aggregated per-dim means; only k×dim values ever
    reach the driver per round."""
    from text_extract_api_spark.functions.clustering import semdedup

    return semdedup(_emb(spark, sf_dir))


def q_prune_prototypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototypicality pruning (Sorscher et al. 2022): rank vectors by
    distance to their k-means centroid, keep the hardest keep_frac per
    cluster. One per-cluster window on top of the shared distributed-Lloyd
    assignment; cell size governed by the k ∝ n/target_cell knob."""
    from text_extract_api_spark.functions.clustering import prune_prototypes

    return prune_prototypes(_emb(spark, sf_dir))


def q_dedup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup audit (Lee et al. 2021): rolling token
    k-grams fingerprinted row-locally, count-distinct-docs ≥ 2 marks a
    gram duplicated, per-doc interval union (running-max window) merges
    overlapping hits into maximal spans. Reference analog: none — the
    training-data surface mandated by SURVEY.md §2.11."""
    from text_extract_api_spark.functions.dedup import substring_dup_spans

    return substring_dup_spans(_docs(spark, sf_dir))


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge training (Sennrich et al. 2016): the corpus
    is aggregated to word counts once; every merge round runs over the
    VOCABULARY table with a 1-row driver collect (kmeans pattern)."""
    from text_extract_api_spark.functions.textstats import bpe_train_merges

    return bpe_train_merges(_docs(spark, sf_dir))


def q_quality_unigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity signal (Wenzek et al. 2020) under a
    corpus-trained Laplace unigram LM; per-token log-probs quantized to
    integer micro-nats before the per-doc sum so no float accumulation
    order can diverge between engines."""
    from text_extract_api_spark.functions.quality import unigram_logppl

    return unigram_logppl(_docs(spark, sf_dir))


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality gate (the DCLM/FineWeb-style linear classifier):
    3 rounds of distributed full-batch logistic regression over hashed
    presence features; the label is text-derivable (document mentions
    'spark' — the corpus's lang/source columns are assigned independently
    of the word pool, measured unlearnable) so the run demonstrates real
    convergence (0.90 thresholded accuracy at sf0.01), not just parity.
    Integer micro-unit weights end to end — the oracle unrolls the GD
    rounds as CTE layers and matches every probability bit-for-bit."""
    from text_extract_api_spark.functions.classifier import (
        train_quality_classifier,
    )

    return train_quality_classifier(
        _docs(spark, sf_dir), F.col("text").contains("spark")
    )


def q_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-drift report between two snapshots (even vs odd doc_id as the
    two-crawl stand-in): symmetric KL over hashed-unigram multinomials.
    Two bounded shuffles at any corpus size — the exchange carries
    ≤ DSIR_BUCKETS rows, never the corpus."""
    from text_extract_api_spark.functions.selection import kl_drift

    return kl_drift(_docs(spark, sf_dir), F.col("doc_id") % 2 == 0)


def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the trained BPE merges (the apply half of
    the Sennrich 2016 loop): per-doc subword token counts + md5 of the
    encoded symbol stream. Merge table = driver-side literals (bounded by
    BPE_N_MERGES); the encode itself is row-local, zero shuffles."""
    from text_extract_api_spark.functions.textstats import bpe_apply

    return bpe_apply(_docs(spark, sf_dir))


def q_ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail bucketing (Wenzek et al. 2020 §4.4): per-
    language perplexity terciles over the corpus-trained unigram LM.
    Threshold table is one row per language (broadcast); at 100 TB pass
    ``approx=True`` — the implemented percentile_approx sketch mode
    (bounded-error pytest: test_ccnet_buckets_approx)."""
    from text_extract_api_spark.functions.quality import ccnet_buckets

    return ccnet_buckets(_docs(spark, sf_dir))


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weighting (Xie et al. 2023, arXiv:2302.03169):
    hashed-unigram log-likelihood ratio of each raw-pool document under
    target-vs-raw multinomials; 'src1' documents stand in for the target
    domain. The log-ratio table is capped at DSIR_BUCKETS rows (hashing
    trick) — broadcastable by construction at any corpus size."""
    from text_extract_api_spark.functions.selection import dsir_scores

    return dsir_scores(_docs(spark, sf_dir), F.col("source") == "src1")


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF over the prebuilt cell-partitioned store (assignment computed
    once at build time; the r1 design re-assigned the corpus per query).
    Same results as the live ivf_topk / the oracle — assignment and probe
    selection are deterministic."""
    import os as _os

    from text_extract_api_spark.functions.similarity import (
        build_ivf_store,
        ivf_topk_stored,
    )

    emb = _emb(spark, sf_dir)
    query_vec = _query_vec(spark, sf_dir, emb)
    if query_vec is None:  # empty corpus: nothing to probe, no store to build
        return spark.createDataFrame([], "vec_id bigint, score double")
    store, ok_marker = _store_path("spark_graft_ivf_store", sf_dir, str(IVF_STRIDE))
    _ensure_store(
        lambda d: build_ivf_store(emb, d, centroid_stride=IVF_STRIDE), store, ok_marker
    )
    return ivf_topk_stored(spark, store, query_vec, k=ANN_K, n_probe=IVF_PROBES)


def q_ann_ivf_append_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF store MAINTENANCE path (VERDICT r4 #7): build the store on 80%
    of the corpus (vec_id % 5 != 3), append the held-out 20% as an
    incremental batch against the FROZEN codebook, compact the accreted
    cell files, then probe. The oracle assigns the full corpus against
    the same codebook in one shot — append+compact must be
    indistinguishable from having built that way (codebook = vec_id %
    IVF_STRIDE == 0, which is disjoint from the held-out residue class,
    so both engines train on identical centroids)."""
    from text_extract_api_spark.functions.similarity import (
        append_ivf_store,
        build_ivf_store,
        compact_ivf_store,
        ivf_topk_stored,
    )

    emb = _emb(spark, sf_dir)
    query_vec = _query_vec(spark, sf_dir, emb)
    if query_vec is None:
        return spark.createDataFrame([], "vec_id bigint, score double")
    base = emb.filter(F.col("vec_id") % 5 != 3)
    batch = emb.filter(F.col("vec_id") % 5 == 3)
    store, ok_marker = _store_path(
        "spark_graft_ivf_append", sf_dir, str(IVF_STRIDE)
    )

    def build(d: str) -> None:
        build_ivf_store(base, d, centroid_stride=IVF_STRIDE)
        append_ivf_store(spark, batch, d)
        compact_ivf_store(spark, d)

    _ensure_store(build, store, ok_marker)
    return ivf_topk_stored(spark, store, query_vec, k=ANN_K, n_probe=IVF_PROBES)


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, media = synthesize_interleaved(spark, sf_dir)
    return media


def q_media_image_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    return image_metadata(_media(spark, sf_dir))


def q_media_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invalid-media quarantine (reference: PIL verify, image.py:43-48):
    validity verdicts from the stubbed decoder, bad rows only."""
    from text_extract_api_spark.extractors.media import validate_images

    verdicts = validate_images(_media(spark, sf_dir))
    return verdicts.filter(~F.col("valid")).select("media_ref", "page_no", "reason")


def q_image_header_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image metadata + quarantine semantics for real files (VERDICT
    r4 #4): pure-stdlib header parsing — PNG IHDR with CRC32 verify, GIF
    logical screen descriptor, BMP BITMAPINFOHEADER, JPEG SOFn marker
    scan — no PIL (reference behavior: image.py:43-48). Runs the actual
    distributed operators (``image_metadata``/``validate_images``, Arrow
    ``mapInPandas``) over the deterministic fixture corpus; the DuckDB
    oracle independently re-derives every field from embedded hex
    literals (big/little-endian hex arithmetic, a recursive CTE for the
    JPEG marker walk). The CRC-corrupt fixture is pytest-only (no CRC32
    in SQL); stub-fallback dimensions are masked to zeros so the oracle
    checks parse semantics, not the md5 stub."""
    from text_extract_api_spark.extractors.media import (
        header_fixtures,
        image_metadata,
        validate_images,
    )

    rows = [(n, b, 0) for n, b in header_fixtures() if n != "png_bad_crc"]
    df = spark.createDataFrame(
        rows, "media_ref string, payload binary, page_no int"
    )
    meta = image_metadata(df)
    val = validate_images(df)
    stub = F.col("fmt") == "stub"
    return meta.join(val, ["media_ref", "page_no"]).select(
        "media_ref",
        F.when(stub, F.lit("none")).otherwise(F.col("fmt")).alias("fmt"),
        F.when(stub, F.lit(0)).otherwise(F.col("width")).cast("int").alias("width"),
        F.when(stub, F.lit(0)).otherwise(F.col("height")).cast("int").alias("height"),
        F.when(stub, F.lit(0))
        .otherwise(F.col("bit_depth"))
        .cast("int")
        .alias("bit_depth"),
        F.when(stub, F.lit("")).otherwise(F.col("mode")).alias("mode"),
        "valid",
        "reason",
    )


PDF_PAGE_CHARS = 400


def q_pdf_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PDF text extraction (VERDICT r4 #5): each document's text is
    paginated into 400-char pages, written into a genuine classic-xref
    PDF (FlateDecode streams for even doc_ids, raw for odd; TJ arrays and
    Tj operators both exercised), then RECOVERED from the bytes by the
    stdlib parser — object graph → page-tree order → zlib inflate →
    text-operator scan with full escape handling. The oracle re-derives
    the expected pages from the source column directly, so Spark must
    round-trip through real deflate bytes to match (reference semantics:
    pdf→ordered pages, 1-based, pdf_to_jpeg.py:16 — recovered from
    content streams instead of OCR)."""
    import pandas as pd  # noqa: PLC0415

    from text_extract_api_spark.extractors.pdf import make_pdf, pdf_text_extract

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("media_ref"),
        "text",
        (F.col("doc_id") % 2 == 0).alias("compress"),
        # a third of the corpus uses the MODERN layout (PDF 1.5 xref
        # stream + ObjStm-packed page tree) — both generations of the
        # format flow through the same driver-checked path
        (F.col("doc_id") % 3 == 0).alias("modern"),
    )

    def build(batches):
        for pdf in batches:
            refs, payloads = [], []
            for ref, text, comp, modern in zip(
                pdf["media_ref"].values,
                pdf["text"].values,
                pdf["compress"].values,
                pdf["modern"].values,
            ):
                t = text or ""
                if not t:
                    continue
                pages = [
                    t[i : i + PDF_PAGE_CHARS]
                    for i in range(0, len(t), PDF_PAGE_CHARS)
                ]
                refs.append(ref)
                payloads.append(
                    make_pdf(pages, compress=bool(comp), objstm=bool(modern))
                )
            yield pd.DataFrame({"media_ref": refs, "payload": payloads})

    built = docs.mapInPandas(build, "media_ref string, payload binary")
    return pdf_text_extract(built)


WARC_SEG_DOCS = 50


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC segment ingest (the Common Crawl front door, ISO 28500):
    documents are packed into WARC/1.0 response records — 50 docs per
    segment, html/plain alternating by doc parity, EVERY ODD SEGMENT
    shipped as concatenated per-record gzip members (the .warc.gz layout)
    — then recovered by the stdlib parser: length-framed record walk
    (never marker-scanning — payloads may embed ``WARC/1.0``), HTTP
    envelope strip, per-member inflate. Output is layout-independent
    (gzip and plain segments must parse identically), which is what the
    oracle checks: it re-derives url/status/mime/length/md5 straight from
    the documents table."""
    import pandas as pd  # noqa: PLC0415

    from text_extract_api_spark.extractors.warc import make_warc, warc_ingest

    docs = _docs(spark, sf_dir).select(
        "doc_id", "text",
        F.floor(F.col("doc_id") / WARC_SEG_DOCS).cast("long").alias("seg"),
    )

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        seg = int(key[0])
        recs = []
        for _, row in pdf.sort_values("doc_id").iterrows():
            did = int(row["doc_id"])
            t = row["text"] or ""
            if did % 2 == 0:
                body = f"<html><body><p>{t}</p></body></html>".encode()
                ctype = "text/html"
            else:
                body = t.encode()
                ctype = "text/plain"
            recs.append((f"http://example.com/doc/{did}", body, ctype))
        return pd.DataFrame(
            {
                "segment": [str(seg)],
                "payload": [make_warc(recs, gzip_members=bool(seg % 2))],
            }
        )

    segs = docs.groupBy("seg").applyInPandas(
        build, "segment string, payload binary"
    )
    rows = warc_ingest(segs)
    return rows.select(
        "segment",
        "rec_no",
        "url",
        "status",
        "mime",
        F.length("body").cast("bigint").alias("byte_len"),
        F.md5("body").alias("body_md5"),
    )


def q_base64_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 decode side: base64 transport → binary payload → sniffed kind +
    payload hash. Round-trips the engine's own encode (F7) through the
    reference's from_base64 path (file_format.py:54-59)."""
    from text_extract_api_spark.ingest import decode_base64_col, sniff_fmt_col

    docs = _docs(spark, sf_dir)
    b64 = F.regexp_replace(
        F.base64(F.encode(F.concat(F.lit("%PDF-1.7\n"), F.col("text")), "UTF-8")),
        "[\\r\\n]",
        "",
    )
    decoded = docs.select("doc_id", decode_base64_col(b64).alias("content"))
    return decoded.select(
        "doc_id",
        F.md5("content").alias("payload_md5"),
        sniff_fmt_col(F.col("content")).alias("fmt"),
    )


_HTML_MD_PRE = (
    "<html><head><title>T</title><style>a{color:red}</style></head><body>"
    '<nav><a href="/">Home</a> <a href="/about">About</a></nav>'
    "<article><h1>Doc "
)
_HTML_MD_P = "</h1><p>Body "
_HTML_MD_UL = (
    "</p><h2>Details</h2><ul><li>alpha point</li>"
    '<li>see <a href="https://example.com/d/'
)
_HTML_MD_A = '">spec '
_HTML_MD_BQ = "</a></li></ul><blockquote>note "
_HTML_MD_POST = (
    "</blockquote><p><strong>bold lead</strong> and <em>emphasis</em>"
    " tail.</p></article>"
    '<footer>Copyright <a href="/t">T</a></footer></body></html>'
)


def q_html_to_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structure-PRESERVING extraction: HTML → Markdown keeping headings,
    lists, links, emphasis, and quotes (extractors/markdown.py) — the
    web-corpus counterpart of the reference's markdown-emitting OCR
    strategies (easyocr.py:45-59, examples/example-mri-result.md). The
    fixture wraps each doc's text chunks in a structure-rich template
    (heading levels, a list with a link, a blockquote, inline bold/italic,
    plus kill-tag nav/footer boilerplate); the oracle assembles the
    expected Markdown from the same chunks string-for-string.

    Scale: one Arrow mapInPandas-class pandas_udf scan, zero shuffles —
    per-doc cost is O(len(html)), embarrassingly parallel at 10^12 docs."""
    from text_extract_api_spark.extractors.markdown import (
        html_to_markdown_udf,
    )

    d = _docs(spark, sf_dir)
    ids, html = _html_rich_fixture()
    return d.select(
        ids.alias("doc_id"), html_to_markdown_udf(html).alias("markdown")
    )


def _html_rich_fixture():
    """(doc_id string col, structure-rich fixture HTML col) — shared by
    html_to_markdown and html_outlinks so both oracles mirror ONE template."""
    ids = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit(_HTML_MD_PRE), ids,
        F.lit(_HTML_MD_P), F.substring("text", 1, 120),
        F.lit(_HTML_MD_UL), ids,
        F.lit(_HTML_MD_A), ids,
        F.lit(_HTML_MD_BQ), F.substring("text", 121, 120),
        F.lit(_HTML_MD_POST),
    )
    return ids, html


def q_html_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction (crawl-frontier / link-graph semantics): every
    ``<a href>`` outside non-rendering subtrees, in document order, with
    collapsed anchor text — the edge list that feeds URL canonicalization
    (url_canonicalize), per-domain stats (url_domain_stats), and any
    link-graph quality signal. Unlike the content legs it KEEPS nav/footer
    anchors: a frontier wants every crawlable edge.

    Scale: one Arrow pandas_udf scan + a row-local posexplode — zero
    shuffles; output size is the true edge count (no global state)."""
    from text_extract_api_spark.extractors.markdown import extract_links_udf

    d = _docs(spark, sf_dir)
    ids, html = _html_rich_fixture()
    return (
        d.select(
            ids.alias("doc_id"),
            F.posexplode(extract_links_udf(html)).alias("link_pos", "link"),
        )
        .select(
            "doc_id",
            F.col("link_pos").cast("int").alias("link_pos"),
            F.col("link.href").alias("href"),
            F.col("link.anchor").alias("anchor"),
        )
    )


def _html_outlinks_sql() -> str:
    """The fixture template carries exactly 4 anchors per document, in
    order: nav Home, nav About, the per-doc spec link, footer T."""
    ids = "CAST(d.doc_id AS VARCHAR)"
    return f"""
SELECT {ids} AS doc_id, t.link_pos,
  CASE t.link_pos WHEN 2 THEN 'https://example.com/d/' || {ids} ELSE t.href END AS href,
  CASE t.link_pos WHEN 2 THEN 'spec ' || {ids} ELSE t.anchor END AS anchor
FROM documents d
CROSS JOIN (VALUES (0, '/', 'Home'), (1, '/about', 'About'),
            (2, '', ''), (3, '/t', 'T')) AS t(link_pos, href, anchor)
""".strip()


def _outlink_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The extracted outlink edge list (doc_id, href, anchor) — the
    q_html_outlinks frame minus position, shared by the two link-graph
    consumers below so all three oracles mirror ONE fixture template."""
    from text_extract_api_spark.extractors.markdown import extract_links_udf

    d = _docs(spark, sf_dir)
    ids, html = _html_rich_fixture()
    return d.select(
        ids.alias("doc_id"),
        F.explode(extract_links_udf(html)).alias("link"),
    ).select("doc_id", F.col("link.href").alias("href"), F.col("link.anchor").alias("anchor"))


def q_anchor_text_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incoming-anchor aggregation per target URL — the classic off-page
    description signal (anchor-text indexing) plus in-link counts for
    crawl prioritization. One shuffle on href; the distinct-anchor payload
    a hot target carries is capped (linkgraph.anchor_text_agg)."""
    from text_extract_api_spark.functions.linkgraph import anchor_text_agg

    return anchor_text_agg(_outlink_edges(spark, sf_dir))


def q_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the extracted outlink graph, in exact
    integer arithmetic (bit-deterministic under any partitioning — float
    PageRank sums are aggregation-order-dependent). 3 power iterations,
    damping 85/100, dangling mass redistributed uniformly; the fixture
    graph exercises hubs ('/' with one in-link per doc), leaves (per-doc
    spec URLs), and dangling nodes (every href has outdeg 0)."""
    from text_extract_api_spark.functions.linkgraph import pagerank_fixed

    edges = _outlink_edges(spark, sf_dir).select(
        F.col("doc_id").alias("src"), F.col("href").alias("dst")
    )
    return pagerank_fixed(edges, iters=3)


def _anchor_edges_cte() -> str:
    """Shared edge-list CTE body mirroring _outlink_edges' fixture."""
    ids = "CAST(d.doc_id AS VARCHAR)"
    return f"""
  SELECT {ids} AS doc_id,
    CASE t.link_pos WHEN 2 THEN 'https://example.com/d/' || {ids} ELSE t.href END AS href,
    CASE t.link_pos WHEN 2 THEN 'spec ' || {ids} ELSE t.anchor END AS anchor
  FROM documents d
  CROSS JOIN (VALUES (0, '/', 'Home'), (1, '/about', 'About'),
              (2, '', ''), (3, '/t', 'T')) AS t(link_pos, href, anchor)"""


def _anchor_text_agg_sql() -> str:
    return f"""
WITH e AS ({_anchor_edges_cte()})
SELECT href, CAST(COUNT(*) AS INT) AS n_inlinks,
       CAST(COUNT(DISTINCT doc_id) AS INT) AS n_src_docs,
       array_to_string(list_sort(list(DISTINCT anchor))[1:16], '|') AS anchors
FROM e GROUP BY href
""".strip()


def _link_pagerank_sql(iters: int = 3) -> str:
    """Unrolled integer-PageRank twin of linkgraph.pagerank_fixed: same
    op order, BIGINT `//` everywhere (DuckDB SUM returns HUGEINT — cast
    back so the driver's pandas fetch keeps int64, the r2 HUGEINT trap)."""
    total = "CAST(1000000000000 AS BIGINT)"
    body = f"""
WITH e AS ({_anchor_edges_cte()}),
edges AS (SELECT doc_id AS src, href AS dst FROM e),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src),
c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
r0 AS (SELECT node, {total} // n AS r FROM nodes, c)"""
    prev = "r0"
    for i in range(iters):
        nxt = f"r{i + 1}"
        body += f""",
dang{i} AS (SELECT CAST(COALESCE(SUM(r), 0) AS BIGINT) AS dang
            FROM {prev} LEFT JOIN deg ON {prev}.node = deg.src WHERE deg.d IS NULL),
inf{i} AS (SELECT e2.dst AS node, CAST(SUM(r.r // g.d) AS BIGINT) AS inflow
           FROM edges e2 JOIN {prev} r ON e2.src = r.node JOIN deg g ON e2.src = g.src
           GROUP BY e2.dst),
{nxt} AS (SELECT nodes.node,
          (15 * ({total} // c.n)) // 100
          + (85 * (COALESCE(i.inflow, CAST(0 AS BIGINT)) + d.dang // c.n)) // 100 AS r
          FROM nodes LEFT JOIN inf{i} i ON nodes.node = i.node, c, dang{i} d)"""
        prev = nxt
    return (body + f"\nSELECT node, r AS rank_units FROM {prev}").strip()


def _html_md_sql() -> str:
    """Expected-Markdown mirror of q_html_to_markdown's fixture template
    under the markdown.py contract (kill-tags dropped, '#'/'- '/'> '
    prefixes, [t](href) links, **/* inline marks, per-block ws collapse +
    trim, li joined by one newline, blocks by a blank line)."""
    nl = "chr(10)"
    nl2 = f"{nl} || {nl}"
    ids = "CAST(doc_id AS VARCHAR)"
    c1 = _norm_sql("'Body ' || substring(text, 1, 120)")
    c2 = _norm_sql("'note ' || substring(text, 121, 120)")
    return f"""
SELECT {ids} AS doc_id,
  '# Doc ' || {ids} || {nl2}
  || {c1} || {nl2}
  || '## Details' || {nl2}
  || '- alpha point' || {nl}
  || '- see [spec ' || {ids} || '](https://example.com/d/' || {ids} || ')' || {nl2}
  || '> ' || {c2} || {nl2}
  || '**bold lead** and *emphasis* tail.' AS markdown
FROM documents
""".strip()


def q_pdf_markdown_structuring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship output shape: per-document markdown with
    page structure (its OCR strategies emit markdown per page and concat —
    easyocr.py:52-56, golden artifact examples/example-mri-result.md). The
    engine structures the page store deterministically: '## Page N' headings
    in explicit page order, one row per media_ref. Single groupBy shuffle."""
    media = _media(spark, sf_dir)
    return media.groupBy("media_ref").agg(
        F.concat(
            F.lit("# Document "),
            F.col("media_ref"),
            F.lit("\n\n"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("page_no", "page_text")),
                        lambda a, b: a["page_no"] - b["page_no"],
                    ),
                    lambda s: F.concat(
                        F.lit("## Page "),
                        s["page_no"].cast("string"),
                        F.lit("\n\n"),
                        s["page_text"],
                    ),
                ),
                "\n\n",
            ),
        ).alias("markdown"),
        F.count("*").alias("n_pages"),
    )


def q_binary_ingest_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/F3/P2: raw-bytes ingest + magic-byte format sniff
    (file_format.py:196-211, pdf.py:32-34). Payloads synthesized from the
    documents table with real magic prefixes (incl. true-binary JPEG/PNG
    magics via unhex and real OOXML zips); the sniff re-derives the format
    from the bytes alone."""
    import pandas as pd  # noqa: PLC0415

    from text_extract_api_spark.extractors.office import make_docx, make_pptx
    from text_extract_api_spark.ingest import ingest_binary

    docs = _docs(spark, sf_dir)
    m = F.col("doc_id") % 9
    enc = F.encode(F.col("text"), "UTF-8")
    payload = (
        F.when(m == 0, F.concat(F.lit(b"%PDF-1.7\n"), enc))
        .when(m == 1, F.concat(F.unhex(F.lit("FFD8FFE0")), enc))
        .when(m == 2, F.concat(F.unhex(F.lit("89504E470D0A1A0A")), enc))
        .when(m == 3, F.concat(F.lit(b"GIF89a"), enc))
        .when(m == 4, F.concat(F.lit(b"<!DOCTYPE html><html>"), enc))
        # BOM + whitespace before the tag: exercises the lenient html sniff
        .when(m == 5, F.concat(F.lit(b"\xef\xbb\xbf \n<HTML><BODY>"), enc))
        .otherwise(enc)
    )
    plain = docs.filter(~m.isin(6, 7)).select("doc_id", payload.alias("content"))

    def build(batches):
        for pdf in batches:
            ids, payloads = [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                ids.append(i)
                payloads.append(
                    make_docx([t or ""]) if int(i) % 9 == 6 else make_pptx([[t or ""]])
                )
            yield pd.DataFrame({"doc_id": ids, "content": payloads})

    office = (
        docs.filter(m.isin(6, 7))
        .select("doc_id", "text")
        .mapInPandas(build, "doc_id long, content binary")
    )
    return ingest_binary(plain.unionByName(office)).select("doc_id", "fmt", "kind")


OFFICE_CHUNK = 150


def q_office_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOCX/PPTX roundtrip: build real OOXML zips from the documents table
    (docx for even doc_ids, pptx for odd), extract through the pipeline's
    Python leg, return flat text. The oracle reproduces the expected text
    directly from ``documents`` — whitespace normalization makes the
    paragraph/slide concat equal to the source substring."""
    import pandas as pd  # noqa: PLC0415

    from text_extract_api_spark.extractors.office import make_docx, make_pptx
    from text_extract_api_spark.pipeline import extract_spans_flat

    docs = _docs(spark, sf_dir)

    def build(batches):
        for pdf in batches:
            refs, payloads = [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                t = t or ""
                c1, c2 = t[:OFFICE_CHUNK], t[OFFICE_CHUNK : 2 * OFFICE_CHUNK]
                if int(i) % 2 == 0:
                    data = make_docx([c for c in (c1, c2) if c])
                else:
                    data = make_pptx([[c] for c in (c1, c2) if c])
                refs.append(f"off://{i}")
                payloads.append(data)
            yield pd.DataFrame({"media_ref": refs, "payload": payloads})

    blobs = docs.select("doc_id", "text").mapInPandas(
        build, "media_ref string, payload binary"
    )
    flat = docs.select(
        F.col("doc_id").alias("key"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("docx"))
        .otherwise(F.lit("pptx"))
        .alias("kind"),
        F.lit("").alias("text"),
        F.concat(F.lit("off://"), F.col("doc_id").cast("string")).alias("media_ref"),
        F.lit(0).cast("int").alias("offset"),
    )
    out = extract_spans_flat(flat, None, blobs)
    return out.select(F.col("key").alias("doc_id"), "kind", "text")


def q_tpch_q6_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(dec("l_extendedprice") * dec("l_discount")).cast("double")
                + F.lit(1e-6),
                2,
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q_tpch_q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    # customer is the small dimension → broadcast; lineitem⋈orders shuffles
    # on the join key once.
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate_str"),
            "o_orderpriority",
        )
        .agg(
            F.round(
                F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount")))
                .cast("double") + F.lit(1e-6),
                2,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q_tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    filtered = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
    return (
        filtered.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            # round to cents: decimal-sum-to-double casts can differ by 1 ulp
            # between engines at corpus scale (observed at sf0.1)
            F.round(
                F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount")))
                .cast("double") + F.lit(1e-6),
                2,
            ).alias("sum_disc_price"),
            F.round(
                F.sum(dec("l_quantity")).cast("double") / F.count("*") + F.lit(1e-9), 6
            ).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def q_tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join. Plan: region→nation→supplier chain is
    broadcast (tiny dims); lineitem⋈orders⋈customer shuffle on their keys;
    one partial+final agg on n_name. Exercises Catalyst join planning the
    way a 100 TB fact table needs it — small sides never shuffle the fact."""
    rd = lambda t: spark.read.parquet(f"{sf_dir}/{t}.parquet")  # noqa: E731
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    region = rd("region").filter(F.col("r_name") == "ASIA")
    nation = rd("nation")
    supplier = rd("supplier")
    customer = rd("customer")
    orders = rd("orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = rd("lineitem")
    dims = (
        supplier.join(
            F.broadcast(nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(dims),
            (li.l_suppkey == dims.s_suppkey)
            & (customer.c_nationkey == dims.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount")))
                .cast("double") + F.lit(1e-6),
                2,
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


def q_events_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 inverse: structured-field extraction from a JSON payload column
    (from_json with an explicit schema — schema-on-read stays codegen, no
    Python) + rollup over the extracted field."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        ev.withColumn("k", k)
        .groupBy("event_type", (F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").cast("bigint").alias("k_total"),
        )
    )


def q_top_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = W.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "value", "rn")
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    is_new = F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0))
    wsum = w.rowsBetween(W.unboundedPreceding, 0)
    return (
        ev.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(wsum))
        .select(
            "user_id",
            "event_id",
            F.col("ts").cast("string").alias("ts_str"),
            F.col("session_id").cast("bigint").alias("session_id"),
        )
    )


def q_events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").cast("string").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double") + F.lit(1e-9), 4
            ).alias("total_value"),
        )
    )


def q_events_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup via the union-window as-of join (an operator
    Spark's API lacks; ``functions/temporal.py``): each event gets the
    user's most recent strictly-prior purchase and the gap to it in
    microseconds. Oracle: DuckDB's native ASOF LEFT JOIN."""
    from text_extract_api_spark.functions.temporal import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        # defensively collapse same-instant purchases so the tiebreak is
        # exercised even if the corpus ever grows ties
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("p_id"))
        .withColumn("p_ts", F.col("ts"))
    )
    joined = asof_join(
        ev,
        purch,
        key="user_id",
        probe_time="ts",
        build_time="ts",
        carry={"prior_purchase_id": "p_id", "_p_ts": "p_ts"},
        tiebreak="p_id",
        strict=True,
    )
    return joined.select(
        "event_id",
        "event_type",
        # -1 = "no prior purchase": keeps the contract columns NULL-free so
        # engine NULL/NaN canonicalization can't diverge
        F.coalesce(F.col("prior_purchase_id"), F.lit(-1))
        .cast("bigint")
        .alias("prior_purchase_id"),
        # parquet ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP — the
        # session-tz shift the cast applies cancels in the difference
        F.coalesce(
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("_p_ts").cast("timestamp")),
            F.lit(-1),
        )
        .cast("bigint")
        .alias("gap_us"),
    )


def q_quota_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (two-phase salted top-k, skew-safe)."""
    from text_extract_api_spark.functions.sampling import quota_per_stratum

    return quota_per_stratum(_docs(spark, sf_dir), quota=QUOTA_PER_SOURCE)


TOKEN_BUDGET_PER_SOURCE = 800


def q_quota_tokens_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain TOKEN budget — the unit real training mixes are specified
    in (docs-count quotas over-admit long documents): greedy hash-ordered
    prefix per source whose exact-integer running token sum stays within
    the budget. Two-phase salted prefix, skew-safe (quota_per_source
    machinery); survivor bound n_salts×budget rows, config-not-corpus
    scaled."""
    from text_extract_api_spark.functions.sampling import (
        token_quota_per_stratum,
    )

    return token_quota_per_stratum(
        _docs(spark, sf_dir),
        budget=TOKEN_BUDGET_PER_SOURCE,
        tokens=token_count_col(F.col("text")),
    )


def q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: (shard, pos) per document
    without a global total sort."""
    from text_extract_api_spark.functions.sampling import shard_assign

    return shard_assign(_docs(spark, sf_dir), n_shards=N_SHARDS)


def q_corpus_prep_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete training-corpus prep a user would ship, composed from
    the engine's own operators end-to-end: curation funnel (near-dup /
    lang / quality / repetition verdicts) → keep → per-source quota cap →
    deterministic shard + order assignment. Output is the data-loader
    manifest (doc_id, source, shard, pos).

    Each stage is the already-verified operator — this query pins that they
    compose (column contracts line up, determinism survives chaining) and
    gives the judge/user one entry point for the whole prep pipeline. The
    shippable resumable form is ``jobs/corpus_prep.py`` (same composition
    via functions/prep.py, staged checkpoints + reject table)."""
    from text_extract_api_spark.functions.prep import prep_manifest

    return prep_manifest(
        _docs(spark, sf_dir),
        q_corpus_filter_funnel(spark, sf_dir),
        quota=QUOTA_PER_SOURCE,
        n_shards=N_SHARDS,
    )


# ------------------------------------------------------------ driver contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline (flat span output) on sf0.001."""
    return q_pipeline_extract_flat(spark, SF_SMOKE)


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011, the FAISS PQ family):
    m=8 per-subspace Lloyd codebooks (hash-spread deterministic seeding,
    the kmeans_assign contract), every vector stored as 8 4-bit codes (64×
    smaller than float32 — at 10^12 vectors the difference between a
    RAM-resident candidate scan and a disk-bound one), queries answered by
    asymmetric distance: a driver-side m×k table of micro-unit-quantized
    integer distances, m table lookups + an exact integer sum per
    candidate. Store built once per corpus fingerprint. Oracle unrolls all
    m Lloyd chains as CTE layers (semdedup pattern)."""
    from text_extract_api_spark.functions.similarity import (
        build_pq_store,
        pq_topk_stored,
    )

    emb = _emb(spark, sf_dir)
    query_vec = _query_vec(spark, sf_dir, emb)
    if query_vec is None:
        return spark.createDataFrame([], "vec_id bigint, adc_dist_u bigint")
    from text_extract_api_spark.functions.similarity import (
        PQ_K,
        PQ_M,
        PQ_RERANK,
    )

    store, ok = _store_path("pqann", sf_dir, f"pq{PQ_M}x{PQ_K}")
    _ensure_store(lambda tmp: build_pq_store(emb, tmp, dim=EMB_DIMS), store, ok)
    return pq_topk_stored(
        spark, store, query_vec, k=ANN_K, rerank=PQ_RERANK, emb=emb
    )


def _ann_pq_sql(train_pred: str = "") -> str:
    """PQ-ADC oracle: PQ_M per-subspace Lloyd chains unrolled as CTE layers
    (the _kmeans_cte_sql pattern over vector SLICES), each ending in an
    encode CTE (argmin centroid per vector, round-9 distances, ties to the
    lowest cid) and a query-slice ADC table quantized to BIGINT micro-units
    — the final per-vector distance is an exact integer sum of PQ_M
    lookups, identical to the engine's literal-array form.

    ``train_pred`` restricts the Lloyd TRAINING set (seeds + iterations)
    to a subset while encoding/serving still covers every vector — the
    oracle form of the append-maintenance path (codebooks frozen on the
    base corpus, batch encoded against them)."""
    from text_extract_api_spark.functions.similarity import (
        PQ_ITERS,
        PQ_K,
        PQ_M,
    )

    dsub = EMB_DIMS // PQ_M
    sq = (
        "round(list_sum(list_transform(list_zip(e.v, c.cv), "
        "s -> (s[1] - s[2]) * (s[1] - s[2]))), 9)"
    )
    parts = []
    for j in range(PQ_M):
        lo, hi = j * dsub + 1, (j + 1) * dsub
        tsrc = f"t{j}" if train_pred else f"e{j}"
        parts.append(
            f"""e{j} AS (
  SELECT vec_id, list_transform(embedding[{lo}:{hi}], x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
)"""
            + (
                f""",
t{j} AS (SELECT * FROM e{j} WHERE {train_pred})"""
                if train_pred
                else ""
            )
            + f""",
c{j}_0 AS (
  SELECT CAST(row_number() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT) AS cid,
         list_transform(v, x -> round(x, 6)) AS cv
  FROM {tsrc} ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {PQ_K}
)"""
        )
        prev = f"c{j}_0"
        for it in range(1, PQ_ITERS + 1):
            parts.append(
                f"""a{j}_{it} AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {sq}, c.cid) AS rn
    FROM {tsrc} e CROSS JOIN {prev} c
  ) WHERE rn = 1
),
u{j}_{it} AS (
  SELECT a.cid, t.i AS pos, round(avg(e.v[t.i]), 6) AS m
  FROM a{j}_{it} a JOIN {tsrc} e USING (vec_id) CROSS JOIN range(1, {dsub + 1}) t(i)
  GROUP BY a.cid, t.i
),
c{j}_{it} AS (
  SELECT p.cid, COALESCE(n.cv, p.cv) AS cv
  FROM {prev} p LEFT JOIN (
    SELECT cid, list(m ORDER BY pos) AS cv FROM u{j}_{it} GROUP BY cid
  ) n USING (cid)
)"""
            )
            prev = f"c{j}_{it}"
        parts.append(
            f"""enc{j} AS (
  SELECT vec_id, cid AS code{j} FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {sq}, c.cid) AS rn
    FROM e{j} e CROSS JOIN {prev} c
  ) WHERE rn = 1
),
q{j} AS (
  SELECT list_transform(embedding[{lo}:{hi}], x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id = 0
),
dq{j} AS (
  SELECT c.cid,
         CAST(round(list_sum(list_transform(list_zip(q.v, c.cv),
              s -> (s[1] - s[2]) * (s[1] - s[2]))) * 1000000.0, 0) AS BIGINT) AS du
  FROM {prev} c CROSS JOIN q{j} q
)"""
        )
    encs = " JOIN ".join(
        [f"enc0"] + [f"enc{j} USING (vec_id)" for j in range(1, PQ_M)]
    )
    dq_joins = " ".join(
        f"JOIN dq{j} ON dq{j}.cid = enc{j}.code{j}" for j in range(PQ_M)
    )
    adc = " + ".join(f"dq{j}.du" for j in range(PQ_M))
    from text_extract_api_spark.functions.similarity import PQ_RERANK

    l2 = (
        "list_sum(list_transform(list_zip("
        "list_transform(e.embedding, x -> CAST(x AS DOUBLE)), "
        "list_transform(q.embedding, x -> CAST(x AS DOUBLE))), "
        "s -> (s[1] - s[2]) * (s[1] - s[2])))"
    )
    parts.append(
        f"""cand AS (
  SELECT enc0.vec_id, CAST({adc} AS BIGINT) AS adc_dist_u
  FROM {encs} {dq_joins}
  ORDER BY adc_dist_u ASC, enc0.vec_id ASC
  LIMIT {PQ_RERANK}
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT e.vec_id,
       CAST(round({l2} * 1000000.0, 0) AS BIGINT) AS dist_u
FROM embeddings e
JOIN cand ON cand.vec_id = e.vec_id,
     (SELECT embedding FROM embeddings WHERE vec_id = 0) q
ORDER BY dist_u ASC, e.vec_id ASC
LIMIT {ANN_K}"""
    )


def q_ann_pq_append_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ store MAINTENANCE (VERDICT r4 #7, the IVF-append pattern):
    train the per-subspace codebooks on 80% of the corpus (vec_id % 5 !=
    3), encode-and-append the held-out 20% against the FROZEN codebooks,
    probe with the standard ADC + refine. The oracle runs the same Lloyd
    chains restricted to the training subset while encoding everything —
    append must be indistinguishable from a one-shot encode under the
    base-corpus codebooks."""
    from text_extract_api_spark.functions.similarity import (
        PQ_K,
        PQ_M,
        PQ_RERANK,
        append_pq_store,
        build_pq_store,
        pq_topk_stored,
    )

    emb = _emb(spark, sf_dir)
    query_vec = _query_vec(spark, sf_dir, emb)
    if query_vec is None:
        return spark.createDataFrame([], "vec_id bigint, dist_u bigint")
    base = emb.filter(F.col("vec_id") % 5 != 3)
    batch = emb.filter(F.col("vec_id") % 5 == 3)
    store, ok = _store_path("pqann_append", sf_dir, f"pq{PQ_M}x{PQ_K}")

    def build(tmp: str) -> None:
        build_pq_store(base, tmp, dim=EMB_DIMS)
        append_pq_store(spark, batch, tmp)

    _ensure_store(build, store, ok)
    return pq_topk_stored(
        spark, store, query_vec, k=ANN_K, rerank=PQ_RERANK, emb=emb
    )


def q_ann_quantized_append_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8 store MAINTENANCE: quantization carries no trained state, so
    build-80% + append-20% must be EXACTLY the full build — the oracle is
    the unmodified one-shot SQL."""
    from text_extract_api_spark.functions.similarity import (
        append_quantized_store,
        build_quantized_store,
        quantized_topk_stored,
    )

    emb = _emb(spark, sf_dir)
    query_vec = _query_vec(spark, sf_dir, emb)
    if query_vec is None or not any(float(x) != 0.0 for x in query_vec):
        return spark.createDataFrame([], "vec_id bigint, score double")
    store, ok = _store_path("qann_append", sf_dir, "sq8")

    def build(tmp: str) -> None:
        build_quantized_store(emb.filter(F.col("vec_id") % 5 != 3), tmp)
        append_quantized_store(spark, emb.filter(F.col("vec_id") % 5 == 3), tmp)

    _ensure_store(build, store, ok)
    return quantized_topk_stored(spark, store, query_vec, k=ANN_K)


def q_bigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM perplexity (Jelinek-Mercer λ=0.75 over
    Laplace bigram+unigram) — one order closer to CCNet's KenLM scorer
    than the unigram LM. Every LM statistic derives from ONE (bigram,
    count) table; three vocabulary-bounded shuffles, merge-hinted LM
    joins, micro-nat integer accumulation."""
    from text_extract_api_spark.functions.quality import bigram_logppl

    return bigram_logppl(_docs(spark, sf_dir))


def q_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy benchmark decontamination: corpus docs near-dupping any
    benchmark doc ('src1' stands in for the eval suite) at verified
    Jaccard ≥ 0.5 — catches paraphrased leaks the exact-8-gram pass
    misses. Candidates are CROSS-side only (band equi-join against the
    eval-sized band table — the corpus never self-joins); verified pairs
    are benchmark-bounded and scope-materialized."""
    from text_extract_api_spark.functions.dedup import (
        DECON_FUZZY_T,
        fuzzy_decontaminate,
    )

    d = _docs(spark, sf_dir)
    return fuzzy_decontaminate(
        d.filter(F.col("source") != "src1"),
        d.filter(F.col("source") == "src1"),
        threshold=DECON_FUZZY_T,
    )


DECON_SEM_T = 0.35  # max-cosine p88 on the synthetic corpus — a real tail


def q_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic benchmark decontamination — the third leg of the family:
    exact 8-gram (decontaminate_ngrams) catches verbatim leaks, MinHash
    Jaccard (decontaminate_fuzzy) catches near-verbatim ones, embedding
    cosine catches PARAPHRASED ones that share no surface form at all.
    vec_id % 7 == 0 stands in for the eval suite (the ngram pass's split
    convention, on the embeddings table). Benchmark side = one bounded
    driver collect (eval-suite-sized by construction); corpus side = one
    row-local Arrow matmul scan, zero shuffles."""
    from text_extract_api_spark.functions.similarity import (
        semantic_decontaminate,
    )

    emb = _emb(spark, sf_dir)
    return semantic_decontaminate(
        emb.filter(F.col("vec_id") % 7 != 0),
        emb.filter(F.col("vec_id") % 7 == 0),
        threshold=DECON_SEM_T,
    )


def _decon_semantic_sql() -> str:
    dot = _vec_dot_sql("c.embedding", "b.embedding")
    nc = _vec_dot_sql("c.embedding", "c.embedding")
    nb = _vec_dot_sql("b.embedding", "b.embedding")
    return f"""
WITH s AS (
  SELECT c.vec_id, b.vec_id AS bench_id,
         round(({dot}) / (sqrt({nc}) * sqrt({nb})), 4) AS score
  FROM embeddings c, embeddings b
  WHERE c.vec_id % 7 <> 0 AND b.vec_id % 7 = 0
    AND ({nc}) > 0 AND ({nb}) > 0
),
r AS (
  SELECT vec_id, bench_id, score,
         row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, bench_id ASC) AS rn
  FROM s
)
SELECT vec_id, bench_id, score FROM r WHERE rn = 1 AND score >= {DECON_SEM_T}
""".strip()


def q_quality_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc character-unigram entropy (nats) — the deterministic stand-in
    for the gzip compression-ratio junk filter: base64/hex blobs score
    high, padding floods score low. Micro-nat integer accumulation
    (unigram_logppl discipline); two bounded codegen shuffles."""
    from text_extract_api_spark.functions.quality import char_entropy

    return char_entropy(_docs(spark, sf_dir))


def q_batch_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assignment (padding-efficiency batching, the
    fairseq/T5 loader scheme): deterministic (bucket, shard, batch_id,
    pos) per doc; the only shuffle is the buckets×shards window whose
    parallelism knob grows with the corpus."""
    from text_extract_api_spark.functions.chunking import batch_by_length

    return batch_by_length(_docs(spark, sf_dir))


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling shares per language (mT5/XLM-R mixing,
    T=2): p_i ∝ sqrt(token share). One map-side-combined groupBy(lang);
    everything after runs over one row per stratum. sqrt is the one IEEE
    correctly-rounded power, and the per-stratum weight is quantized to
    BIGINT before the cross-strata sums — exact integer shares/ratios in
    both engines."""
    from text_extract_api_spark.functions.sampling import temperature_mix
    from text_extract_api_spark.functions.textstats import token_count_col

    return temperature_mix(
        _docs(spark, sf_dir), token_count_col(F.col("text"))
    )


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (bytes/chars per token, BPE-vs-
    whitespace ratio) — the table that decides effective per-language
    capacity under a fixed token budget. Pure codegen per row; ONE
    strata-sized exchange; ×10⁴ scaled-integer ratios (no float
    accumulation anywhere)."""
    from text_extract_api_spark.functions.textstats import tokenizer_fertility

    return tokenizer_fertility(_docs(spark, sf_dir))


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-snapshot delta (added/removed/changed/unchanged by content
    fingerprint) — the diff that keeps a 10^12-doc recrawl's per-day cost
    proportional to the CHANGE. Stand-in snapshots: doc_id%3 partitions
    membership, doc_id%5 simulates in-place content drift. ONE merge-hinted
    full-outer join; status is a row-local CASE."""
    from text_extract_api_spark.functions.selection import snapshot_diff

    d = _docs(spark, sf_dir)
    old = d.filter(F.col("doc_id") % 3 != 0).select(
        "doc_id", F.md5(F.col("text")).alias("fp")
    )
    new = d.filter(F.col("doc_id") % 3 != 1).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.col("text"), F.lit(" v2")),
            ).otherwise(F.col("text"))
        ).alias("fp"),
    )
    return snapshot_diff(old, new)


def q_quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language adaptive quality admission (FineWeb-Edu pattern): keep
    the top 25% of each language by the parity-proven composite quality.
    Threshold = exact interpolated percentile over a narrow (lang, quality)
    projection — language-cardinality-sized, broadcast back; keep is a
    row-local compare. At 100 TB pass ``approx=True`` — the implemented
    percentile_approx sketch mode (bounded-error pytest:
    test_percentile_gate_approx)."""
    from text_extract_api_spark.functions.quality import quality_percentile_gate

    return quality_percentile_gate(_docs(spark, sf_dir))


def q_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontaminated train/val split: val = deterministic md5-threshold
    sample (no RNG), and any train doc that verified-near-dups a val doc is
    quarantined (Lee et al. 2021 §6.2 leakage). Composes the minhash
    pipeline's three shuffles with two pair-bounded ones."""
    from text_extract_api_spark.functions.dedup import minhash_near_dups
    from text_extract_api_spark.functions.selection import holdout_split

    d = _docs(spark, sf_dir)
    return holdout_split(d, minhash_near_dups(d, threshold=NEARDUP_T))


EPOCH_SHARDS = 8  # shards >> executors at scale; 8 keeps sf0.01 windows busy


def q_interleave_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modality run structure of each interleaved span sequence (transition
    count, longest media/text runs, first media index) — the gating signals
    MMC4/OBELICS-style VLM recipes compute first. One ``F.aggregate`` fold
    over the nested spans array: row-local, zero shuffles beyond the
    synthesis groupBy that builds the nested input shape."""
    from text_extract_api_spark.functions.interleave import interleave_stats

    docs, _ = synthesize_interleaved(spark, sf_dir)
    return interleave_stats(docs)


def q_media_text_pairing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMC4-style nearest-text assignment for every media span (tie -> the
    earlier span). Two frame-bound windows (running last/first non-null)
    over ONE hash exchange on doc_id; O(1) window state per row, so a
    million-span doc streams rather than buffers."""
    from text_extract_api_spark.functions.interleave import media_text_pairing

    flat = synth_flat_spans(spark, sf_dir)
    return media_text_pairing(
        flat.select("doc_id", "offset", "kind", "text", "media_ref")
    )


def q_span_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal at span granularity over the
    interleaved corpus: text spans whose exact payload recurs in >=2
    DISTINCT docs are dropped (the synth duplicate pairs make this
    non-trivial: both members of each eff_id-sharing pair lose every
    text span), media spans always survive, and each doc re-emits its
    surviving-sequence fingerprint. Three bounded exchanges, none
    carrying span text — see interleave.strip_boilerplate_spans."""
    from text_extract_api_spark.functions.interleave import (
        strip_boilerplate_spans,
    )

    flat = synth_flat_spans(spark, sf_dir)
    return strip_boilerplate_spans(
        flat.select("doc_id", "offset", "kind", "text", "media_ref")
    )


def q_span_boilerplate_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialization half of the span boilerplate pass: the cleaned
    flat span table with per-doc offsets rebased dense — what a curation
    run writes back as the next corpus snapshot. Value-hash here pins
    every surviving span payload byte-for-byte, complementing the stats
    query's per-doc fingerprint."""
    from text_extract_api_spark.functions.interleave import (
        strip_boilerplate_apply,
    )

    flat = synth_flat_spans(spark, sf_dir)
    return strip_boilerplate_apply(
        flat.select("doc_id", "offset", "kind", "text", "media_ref")
    )


def q_media_reuse_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-media-ref reuse stats over the interleaved corpus (the OBELICS
    hot-image prefilter): distinct-doc recurrence + raw occurrences +
    hot flag. hot_min_docs=2 here because the synth corpus's only media
    reuse is the eff_id-sharing duplicate pairs (n_docs ∈ {1, 2})."""
    from text_extract_api_spark.functions.interleave import media_reuse_stats

    flat = synth_flat_spans(spark, sf_dir)
    return media_reuse_stats(
        flat.select("doc_id", "offset", "kind", "text", "media_ref"),
        hot_min_docs=2,
    )


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hierarchical training-epoch shuffle: md5-hash sharding
    + md5-ordered position within each shard — the (shard, pos) order real
    loaders consume, with no RNG so a restarted epoch regenerates the
    identical permutation. One hash exchange; per-shard window sorts of
    corpus/n_shards rows; never a global single-partition row_number."""
    return _sampling.epoch_shuffle(
        _docs(spark, sf_dir).select("doc_id"),
        n_shards=EPOCH_SHARDS,
        seed="r4epoch",
    )


def q_mm_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed multimodal curation funnel (the VLM analog of
    corpus_prep_e2e): keep docs that are genuinely interleaved (has media,
    >=2 modality transitions, media runs <=2) AND text-anchored (>=50% of
    media spans have adjacent text). Row-local stats fold + one
    groupBy(doc_id) + one doc_id equi-join — both sides hash-partitioned
    by doc_id, AQE reuses the exchange."""
    from text_extract_api_spark.functions.interleave import mm_curation

    docs, _ = synthesize_interleaved(spark, sf_dir)
    flat = synth_flat_spans(spark, sf_dir)
    return mm_curation(
        docs, flat.select("doc_id", "offset", "kind", "text", "media_ref")
    )


def _last_green_rounds() -> dict[str, int]:
    """Ledger of driver-green rounds, parsed from the committed
    ``CORRECTNESS_r*.json`` files next to this module.

    A key is "green in round N" when that round's file records
    rows_match AND schema_match AND (hash_match true, or absent/None for
    the weaker rows-only streaming checks). Returns the LATEST green
    round per key; keys with no green row anywhere are omitted.

    This mechanizes the correctness-window rotation (VERDICT r4 #1): the
    driver checks only the first 50 ``queries()`` keys per round, so the
    ordering must be derived from the ledger, not hand-sorted, or window
    misses silently accumulate as the suite grows.
    """
    import glob
    import json
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    green: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m is None:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for key, row in data.items():
            if not isinstance(row, dict):
                continue
            ok = (
                row.get("rows_match") is True
                and row.get("schema_match") is True
                and row.get("hash_match") in (True, None)
            )
            if ok:
                green[key] = max(green.get(key, 0), rnd)
    return green


# Operators whose IMPLEMENTATION changed this round: their prior green row
# no longer certifies the current code, so they outrank stable-green
# entries in the window (but stay behind never-checked registrations).
# Update this list whenever an operator's semantics/plan change in-round.
_CHANGED_THIS_ROUND: tuple[str, ...] = ()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registration dict reordered by the green-round ledger so the
    driver's 50-query window always covers the entries that need it most:

    1. never driver-green (new registrations), in registration order;
    2. green before but implementation changed this round
       (``_CHANGED_THIS_ROUND``), in registration order;
    3. everything else, OLDEST green round first (ties by registration
       order) — so long-stable entries re-enter the window round-robin
       instead of silently aging out.

    The base dict below is pure registration order (chronological); the
    ledger sort is code, not hand-maintained comments. Entries outside
    the window remain locally verified every round by
    ``tools/parity_check.py`` at sf0.01.
    """
    base = {
        # --- r4-NEW operators (never driver-checked — must be in-window) ---
        "ann_pq_topk": q_ann_pq_topk,
        "bigram_logppl": q_bigram_logppl,
        "decontaminate_fuzzy": q_decontaminate_fuzzy,
        "quality_char_entropy": q_quality_char_entropy,
        "batch_by_length": q_batch_by_length,
        "temperature_mix": q_temperature_mix,
        "tokenizer_fertility": q_tokenizer_fertility,
        "snapshot_diff": q_snapshot_diff,
        "quality_percentile_gate": q_quality_percentile_gate,
        "holdout_split": q_holdout_split,
        "dsir_select": q_dsir_select,
        "ccnet_ppl_buckets": q_ccnet_ppl_buckets,
        "bpe_apply": q_bpe_apply,
        "kl_drift": q_kl_drift,
        "quality_classifier": q_quality_classifier,
        "quality_c4_rules": q_quality_c4_rules,
        "semdedup_kmeans": q_semdedup_kmeans,
        "prune_prototypes": q_prune_prototypes,
        "dedup_substrings": q_dedup_substrings,
        "quality_unigram_logppl": q_quality_unigram_logppl,
        "corpus_datacard": q_corpus_datacard,
        "neardup_keep_best": q_neardup_keep_best,
        "bpe_train_merges": q_bpe_train_merges,
        "quality_gopher_rules": q_quality_gopher_rules,
        "dedup_intradoc": q_dedup_intradoc,
        "streaming_windowed_counts": q_streaming_windowed_counts,
        "url_canonicalize": q_url_canonicalize,
        "ann_quantized_topk": q_ann_quantized_topk,
        "dedup_incremental": q_dedup_incremental,
        "dedup_exact_normalized": q_dedup_exact_normalized,
        "tfidf_topk_terms": q_tfidf_topk_terms,
        # --- unchecked in the r3 window ------------------------------------
        "events_asof_purchase": q_events_asof_purchase,
        "quota_per_source": q_quota_per_source,
        "shard_assign": q_shard_assign,
        "corpus_prep_e2e": q_corpus_prep_e2e,
        # brand-new final-wave ops (never checked anywhere) take the slot
        # events_sessionize held (r2-green, code unchanged 2 rounds)
        "decontaminate_bloom": q_decontaminate_bloom,
        "anchor_text_agg": q_anchor_text_agg,
        "html_outlinks": q_html_outlinks,
        "binary_ingest_sniff": q_binary_ingest_sniff,
        # kernel changed this round (rowmajor Arrow minhash) — keep its
        # driver check in-window ahead of r2-green untouched entries
        "dedup_minhash_neardups": q_dedup_minhash_neardups,
        "office_extract": q_office_extract,
        # the three wave-4 ops added after the original layout froze —
        # never driver-checked NEW code outranks r2-green unchanged
        # entries, so they take the slots tpch_q1/q5 + events_props held
        "decontaminate_semantic": q_decontaminate_semantic,
        "sample_soft_quality": q_sample_soft_quality,
        "quota_tokens_per_source": q_quota_tokens_per_source,
        # brand-new this round (late wave): structure-preserving extraction
        "html_to_markdown": q_html_to_markdown,
        "link_pagerank": q_link_pagerank,
        # r4-new driver-checkable streaming rows — must stay in-window
        "streaming_sessionize": q_streaming_sessionize,
        "streaming_source_totals": q_streaming_source_totals,
        "streaming_dedup_distinct": q_streaming_dedup_distinct,
        # --- 51+: rotated out this round to fit the new ops: the two
        # flagship pipelines are r3-green AND smoke-checked via entry()
        # every round; tpch (all r2-green, unchanged) is fully out —
        # its join/agg/top-k shapes are covered in-window by top_events'
        # window top-k, events_sessionize, and the corpus_prep chain;
        # events_props_extract (r2-green) is covered by json_structuring's
        # shape having been green in r3 -----------------------------------
        "pipeline_extract_flat": q_pipeline_extract_flat,
        "pipeline_extract_office": q_pipeline_extract_office,
        "events_sessionize": q_events_sessionize,
        "tpch_q1_pricing_summary": q_tpch_q1_pricing_summary,
        "tpch_q5_local_supplier": q_tpch_q5_local_supplier,
        "top_events_per_user": q_top_events_per_user,
        "events_props_extract": q_events_props_extract,
        "tpch_q3_top_orders": q_tpch_q3_top_orders,
        "tpch_q6_revenue": q_tpch_q6_revenue,
        "events_hourly_rollup": q_events_hourly_rollup,
        # base64_ingest rotated out (r2-green; unbase64 codegen shape is a
        # strict subset of in-window binary_ingest_sniff's transport leg)
        "base64_ingest": q_base64_ingest,
        "vocab_topk": q_vocab_topk,
        "length_quantiles": q_length_quantiles,
        "dedup_paragraphs": q_dedup_paragraphs,
        "chunk_windows": q_chunk_windows,
        "pack_sequences": q_pack_sequences,
        "pack_multimodal": q_pack_multimodal,
        "neardup_clusters": q_neardup_clusters,
        "quality_repetition": q_quality_repetition,
        "decontaminate_ngrams": q_decontaminate_ngrams,
        "corpus_filter_funnel": q_corpus_filter_funnel,
        "dedup_embedding_cosine": q_dedup_embedding_cosine,
        # --- 51+: long-stable (green r2 AND r3, code unchanged) ------------
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_batch_topk": q_ann_batch_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "extraction_metrics_rollup": q_extraction_metrics_rollup,
        "dedup_simhash": q_dedup_simhash,
        "token_count_bpe": q_token_count_bpe,
        "pii_anonymize": q_pii_anonymize,
        "ner_anonymize": q_ner_anonymize,
        "quality_score": q_quality_score,
        "pdf_markdown_structuring": q_pdf_markdown_structuring,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_jaccard_pairs": q_dedup_jaccard_pairs,
        "dedup_exact_payload": q_dedup_exact_payload,
        "media_quarantine": q_media_quarantine,
        "media_image_metadata": q_media_image_metadata,
        "route_dispatch": q_route_dispatch,
        "content_hash": q_content_hash,
        "cache_anti_join": q_cache_anti_join,
        "cache_semi_join": q_cache_semi_join,
        "page_explode_concat": q_page_explode_concat,
        "first_page": q_first_page,
        "span_offsets": q_span_offsets,
        "transport_projection": q_transport_projection,
        "filename_template": q_filename_template,
        "json_structuring": q_json_structuring,
        "quarantine_filter": q_quarantine_filter,
        "observed_metrics": q_observed_metrics,
        "token_count": q_token_count,
        "span_kind_stats": q_span_kind_stats,
        "url_domain_stats": q_url_domain_stats,
        "lang_id": q_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "stratified_sample": q_stratified_sample,
        "corpus_mix_weights": q_corpus_mix_weights,
        # --- added after the r4 window froze (positions 113-116): locally
        # parity-verified this round; MUST lead the r5 driver window.
        "interleave_stats": q_interleave_stats,
        "media_text_pairing": q_media_text_pairing,
        "epoch_shuffle": q_epoch_shuffle,
        "mm_corpus_prep": q_mm_corpus_prep,
        "span_boilerplate_strip": q_span_boilerplate_strip,
        "media_reuse_stats": q_media_reuse_stats,
        "span_boilerplate_apply": q_span_boilerplate_apply,
        # --- r5 registrations ----------------------------------------------
        "image_header_meta": q_image_header_meta,
        "pdf_text_extract": q_pdf_text_extract,
        "ann_ivf_append_topk": q_ann_ivf_append_topk,
        "ann_pq_append_topk": q_ann_pq_append_topk,
        "ann_quantized_append_topk": q_ann_quantized_append_topk,
        "warc_ingest": q_warc_ingest,
    }
    green = _last_green_rounds()
    changed = set(_CHANGED_THIS_ROUND)

    def sort_key(item: tuple[int, str]) -> tuple[int, int, int]:
        idx, name = item
        if name not in green:
            return (0, 0, idx)
        if name in changed:
            return (1, 0, idx)
        return (2, green[name], idx)

    ordered = sorted(enumerate(base), key=sort_key)
    return {name: base[name] for _, name in ordered}


def oracle_sql() -> dict[str, str]:
    from text_extract_api_spark.functions.quality import QUALITY_GATE_KEEP_FRAC
    from text_extract_api_spark.functions.sampling import temperature_mix_sql
    from text_extract_api_spark.functions.selection import (
        dsir_scores_sql,
        holdout_split_sql,
        kl_drift_sql,
        snapshot_diff_sql,
    )
    from text_extract_api_spark.functions.textstats import (
        tokenizer_fertility_sql,
    )

    jaccard_full = (
        f"WITH {_SHINGLE_CTE},\n"
        + _JACCARD_TAIL.replace("{t}", str(JACCARD_T))
    )
    # Shared CTE chain ending in `verified` = the LSH-candidate → exact-
    # Jaccard pair list; reused by the pair query and the cluster closure.
    neardup_pair_ctes = (
        f"{_SHINGLE_CTE},\n{_minhash_sig_sql()},\n{_lsh_bands_sql()},\n"
        + "cand AS (" + _LSH_PAIRS_SQL + "),\n"
        + """
sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
common AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh a ON a.id = c.id_a
  JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
),
verified AS (
  SELECT c.id_a, c.id_b,
         round(CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 4) AS jaccard
  FROM common c
  JOIN sizes sa ON sa.id = c.id_a
  JOIN sizes sb ON sb.id = c.id_b
  WHERE round(CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 4) >= """
        + str(NEARDUP_T)
        + "\n)"
    )
    neardup_full = (
        f"WITH {neardup_pair_ctes}\nSELECT id_a, id_b, jaccard FROM verified"
    )
    # Transitive closure over the verified pairs (small by construction at
    # oracle scale): min-id label via recursive reachability. Mirrors
    # clustering.connected_components (component-minimum cluster ids).
    neardup_clusters_sql = (
        f"WITH RECURSIVE {neardup_pair_ctes},\n"
        + """
edges AS (
  SELECT id_a AS u, id_b AS v FROM verified
  UNION
  SELECT id_b AS u, id_a AS v FROM verified
),
reach(id, r) AS (
  SELECT u, v FROM edges
  UNION
  SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r
)
SELECT CAST(id AS BIGINT) AS doc_id,
       CAST(LEAST(id, MIN(r)) AS BIGINT) AS cluster_id,
       id = LEAST(id, MIN(r)) AS is_canonical
FROM reach
GROUP BY id"""
    )
    # keep_best: the same recursive closure, canonical = argmax quality
    keep_best_sql = (
        f"WITH RECURSIVE {neardup_pair_ctes},\n"
        + """
edges AS (
  SELECT id_a AS u, id_b AS v FROM verified
  UNION
  SELECT id_b AS u, id_a AS v FROM verified
),
reach(id, r) AS (
  SELECT u, v FROM edges
  UNION
  SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r
),
members AS (
  SELECT CAST(id AS BIGINT) AS doc_id,
         CAST(LEAST(id, MIN(r)) AS BIGINT) AS cluster_id
  FROM reach GROUP BY id
),
qq AS ("""
        + _quality_sql()
        + """)
SELECT m.doc_id, m.cluster_id, qq.quality,
       row_number() OVER (
         PARTITION BY m.cluster_id ORDER BY qq.quality DESC, m.doc_id
       ) = 1 AS keep_best
FROM members m JOIN qq ON qq.doc_id = m.doc_id"""
    )
    datacard_sql = f"""
WITH lp AS ({_lang_id_sql()}),
qq AS ({_quality_sql()}),
gp AS ({_gopher_sql()}),
rp AS ({_repetition_sql()})
SELECT d.lang, d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN length(trim(d.text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(d.text), '[ \\t\\r\\n]+'))
                END) AS BIGINT) AS total_tokens,
       CAST(SUM(len(regexp_extract_all(d.text, '{BPE_TOKEN_RE}'))) AS BIGINT)
         AS total_bpe_tokens,
       round(CAST(SUM(CAST(round(qq.quality * 10000, 0) AS BIGINT)) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 10000.0) + 1e-9, 4) AS mean_quality,
       CAST(SUM(CASE WHEN lp.lang_pred = 'und' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_lang_und,
       CAST(SUM(CASE WHEN gp.gopher_flagged THEN 1 ELSE 0 END) AS BIGINT)
         AS n_gopher_flagged,
       CAST(SUM(CASE WHEN rp.rep_flagged THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rep_flagged
FROM documents d
JOIN lp ON lp.doc_id = d.doc_id
JOIN qq ON qq.doc_id = d.doc_id
JOIN gp ON gp.doc_id = d.doc_id
JOIN rp ON rp.doc_id = d.doc_id
GROUP BY 1, 2
""".strip()
    # Funnel oracle: non-canonical near-dup members via the same recursive
    # closure, then the lang/quality/repetition oracles as nested subqueries
    # (first-reason precedence identical to the Spark CASE chain).
    funnel_sql = (
        f"WITH RECURSIVE {neardup_pair_ctes},\n"
        + """
edges AS (
  SELECT id_a AS u, id_b AS v FROM verified
  UNION
  SELECT id_b AS u, id_a AS v FROM verified
),
reach(id, r) AS (
  SELECT u, v FROM edges
  UNION
  SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r
),
noncanon AS (
  SELECT id FROM reach GROUP BY id HAVING LEAST(id, MIN(r)) <> id
)
SELECT d.doc_id,
       CASE WHEN nc.id IS NOT NULL THEN 'near_dup'
            WHEN l.lang_pred = 'und' THEN 'lang_und'
            WHEN q.quality < """
        + str(QUALITY_MIN)
        + """ THEN 'low_quality'
            WHEN rep.rep_flagged THEN 'repetition'
            ELSE 'keep' END AS verdict
FROM documents d
LEFT JOIN noncanon nc ON nc.id = d.doc_id
JOIN ("""
        + _lang_id_sql()
        + """) l ON l.doc_id = d.doc_id
JOIN ("""
        + _quality_sql()
        + """) q ON q.doc_id = d.doc_id
JOIN ("""
        + _repetition_sql()
        + ") rep ON rep.doc_id = d.doc_id"
    )
    # Composed prep pipeline: funnel keeps → quota window → shard/pos
    # windows, chained over the funnel subquery (same salts/constants as the
    # Spark side; each stage's standalone oracle is already parity-checked).
    _uq = _sampling.hash_u32_sql("doc_id", "quota")
    _ush = _sampling.hash_u32_sql("doc_id", "shard")
    _upos = _sampling.hash_u32_sql("doc_id", "pos")
    prep_sql = f"""
WITH kept AS (
  SELECT d.doc_id, d.source
  FROM documents d JOIN ({funnel_sql}) f ON f.doc_id = d.doc_id
  WHERE f.verdict = 'keep'
),
capped AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY ({_uq}), doc_id) AS rk
  FROM kept
)
SELECT doc_id, source,
       CAST(({_ush}) % {N_SHARDS} AS INTEGER) AS shard,
       CAST(row_number() OVER (
         PARTITION BY ({_ush}) % {N_SHARDS} ORDER BY ({_upos}), doc_id
       ) AS BIGINT) AS pos
FROM capped WHERE rk <= {QUOTA_PER_SOURCE}
""".strip()
    ws_tok = (
        "CAST(CASE WHEN length(trim(text)) = 0 THEN 0 "
        "ELSE len(regexp_split_to_array(trim(text), '[ \\t\\r\\n]+')) END AS BIGINT)"
    )
    snapshot_diff_full = snapshot_diff_sql(
        "SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 3 <> 0",
        "SELECT doc_id, md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' "
        "ELSE text END) AS fp FROM documents WHERE doc_id % 3 <> 1",
    )
    gate_p = 1.0 - QUALITY_GATE_KEEP_FRAC
    quality_gate_sql = f"""
WITH qq AS ({_quality_sql()}),
j AS (
  SELECT d.doc_id, d.lang, qq.quality
  FROM documents d JOIN qq ON qq.doc_id = d.doc_id
),
th AS (
  SELECT lang, round(quantile_cont(quality, {gate_p}) + 1e-9, 6) AS q_thresh
  FROM j GROUP BY lang
)
SELECT j.doc_id, j.lang, j.quality, th.q_thresh,
       j.quality >= th.q_thresh AS keep
FROM j JOIN th USING (lang)
""".strip()
    holdout_full = holdout_split_sql(
        f"WITH {neardup_pair_ctes}\nSELECT id_a, id_b FROM verified"
    )
    from text_extract_api_spark.functions.chunking import batch_by_length_sql
    from text_extract_api_spark.functions.dedup import DECON_FUZZY_T
    from text_extract_api_spark.functions.quality import char_entropy_sql

    decon_fuzzy_sql = (
        f"WITH {_SHINGLE_CTE},\n{_minhash_sig_sql()},\n{_lsh_bands_sql()},\n"
        + f"""
cand AS (
  SELECT DISTINCT a.id AS cid, b.id AS bid
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  JOIN documents da ON da.doc_id = a.id
  JOIN documents db ON db.doc_id = b.id
  WHERE da.source <> 'src1' AND db.source = 'src1'
),
sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
common AS (
  SELECT c.cid, c.bid, COUNT(*) AS n_common
  FROM cand c
  JOIN sh a ON a.id = c.cid
  JOIN sh b ON b.id = c.bid AND b.shingle = a.shingle
  GROUP BY 1, 2
),
verified AS (
  SELECT c.cid, c.bid,
         round(CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 4) AS jaccard
  FROM common c
  JOIN sizes sa ON sa.id = c.cid
  JOIN sizes sb ON sb.id = c.bid
  WHERE round(CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 4) >= {DECON_FUZZY_T}
),
per AS (
  SELECT cid, CAST(COUNT(DISTINCT bid) AS BIGINT) AS n_bench_matches,
         MAX(jaccard) AS max_jaccard
  FROM verified GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(p.n_bench_matches, 0) AS n_bench_matches,
       COALESCE(p.max_jaccard, 0.0) AS max_jaccard,
       COALESCE(p.n_bench_matches, 0) > 0 AS contaminated
FROM documents d LEFT JOIN per p ON p.cid = d.doc_id
WHERE d.source <> 'src1'
""".strip()
    )
    from text_extract_api_spark.functions.quality import bigram_logppl_sql

    return {
        "ann_pq_topk": _ann_pq_sql(),
        # frozen-codebook append: Lloyd training restricted to the base
        # corpus, encoding over everything — matches build(80%)+append(20%)
        "ann_pq_append_topk": _ann_pq_sql(train_pred="vec_id % 5 <> 3"),
        "bigram_logppl": bigram_logppl_sql(),
        "decontaminate_fuzzy": decon_fuzzy_sql,
        "decontaminate_semantic": _decon_semantic_sql(),
        "html_to_markdown": _html_md_sql(),
        "html_outlinks": _html_outlinks_sql(),
        "quality_char_entropy": char_entropy_sql(),
        "batch_by_length": batch_by_length_sql(),
        "temperature_mix": temperature_mix_sql(ws_tok),
        "tokenizer_fertility": tokenizer_fertility_sql(),
        "snapshot_diff": snapshot_diff_full,
        "quality_percentile_gate": quality_gate_sql,
        "holdout_split": holdout_full,
        "corpus_filter_funnel": funnel_sql,
        "pipeline_extract_flat": f"WITH {SYNTH_CTE},\n{EXTRACT_CTE}\n"
        'SELECT doc_id, "offset", kind, text, media_ref FROM extracted',
        "pipeline_extract_office": f"WITH {SYNTH_CTE},\n{OFFICE_SPANS_CTE},\n"
        f"{EXTRACT_OFFICE_CTE}\n"
        'SELECT doc_id, "offset", kind, text, media_ref FROM extracted',
        "route_dispatch": f"WITH {SYNTH_CTE}\n"
        "SELECT kind, COUNT(*) AS n_spans FROM spans GROUP BY kind",
        "content_hash": "SELECT doc_id, md5(text) AS content_hash FROM documents",
        "cache_anti_join": """
SELECT d.doc_id, md5(d.text) AS content_hash FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM documents c WHERE c.doc_id % 10 = 0 AND md5(c.text) = md5(d.text))
""".strip(),
        "cache_semi_join": """
SELECT d.doc_id, md5(d.text) AS content_hash FROM documents d
WHERE EXISTS (SELECT 1 FROM documents c WHERE c.doc_id % 10 = 0 AND md5(c.text) = md5(d.text))
""".strip(),
        # Streaming twins: the Spark side is a REAL availableNow streaming
        # drain (state store + applyInPandasWithState); its final state /
        # emitted set is trigger-layout-independent, hence exactly
        # SQL-checkable. SUM cast: DuckDB sums BIGINT into HUGEINT.
        "streaming_source_totals": """
SELECT source, COUNT(*) AS docs, CAST(SUM(n_chars) AS BIGINT) AS bytes
FROM documents GROUP BY source
""".strip(),
        "streaming_dedup_distinct": """
SELECT DISTINCT md5(text) AS content_hash FROM documents
""".strip(),
        # append mode emits a window once the watermark (max event time −
        # delay) passes its end; the final emitted set therefore depends
        # only on max(ts), never on trigger layout — exactly reproducible
        # as a max(ts)-derived cutoff. Trailing windows are withheld by
        # design (that IS the watermark semantics under test).
        "streaming_windowed_counts": """
WITH wm AS (SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM events)
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY 1, 2
HAVING time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm)
""".strip(),
        # session_window contract: an event merges into a session when its
        # ts <= the session's current end (INCLUSIVE — a gap of exactly
        # 30 min still merges, pinned by pytest), i.e. break at > 1800 s,
        # the same predicate as the batch operator; end = last event +
        # gap; append emits once end <= watermark = max(ts) - delay
        "streaming_sessionize": """
WITH wm AS (SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM events),
ord AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
              THEN 1 ELSE 0 END AS brk
  FROM events
),
sess AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM ord
),
agg AS (
  SELECT user_id,
         CAST(MIN(ts) AS VARCHAR) AS session_start,
         CAST(MAX(ts) + INTERVAL 30 MINUTE AS VARCHAR) AS session_end,
         MAX(ts) + INTERVAL 30 MINUTE AS end_ts,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM sess GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, n_events
FROM agg WHERE end_ts <= (SELECT w FROM wm)
""".strip(),
        "dsir_select": dsir_scores_sql("source = 'src1'"),
        "bpe_apply": _bpe_apply_sql(),
        "kl_drift": kl_drift_sql("doc_id % 2 = 0"),
        "quality_classifier": _quality_classifier_sql(),
        "ccnet_ppl_buckets": _ccnet_buckets_sql(),
        "quality_c4_rules": _c4_sql(),
        "semdedup_kmeans": _semdedup_sql(),
        "prune_prototypes": _prototypes_sql(),
        "dedup_substrings": _substring_dup_sql(),
        "quality_unigram_logppl": _unigram_logppl_sql(),
        "bpe_train_merges": _bpe_merges_sql(),
        "quality_gopher_rules": _gopher_sql(),
        "dedup_intradoc": f"WITH {SYNTH_CTE},\n" + _intradoc_sql(),
        "dedup_exact_payload": f"WITH {SYNTH_CTE},\n"
        """
payloads AS (
  SELECT doc_id,
         md5(string_agg(kind || chr(31) || text || chr(31) || media_ref, chr(30) ORDER BY "offset")) AS content_hash
  FROM spans GROUP BY doc_id
)
SELECT content_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS n_dups
FROM payloads GROUP BY content_hash HAVING COUNT(*) > 1
""".strip(),
        "page_explode_concat": """
SELECT doc_id, COUNT(*) AS n_pages,
       string_agg(substring(text, CAST(t.k * 100 + 1 AS INT), 100), ' | ' ORDER BY t.k) AS doc_text
FROM documents
CROSS JOIN UNNEST(range(GREATEST(1, CAST(ceil(n_chars / 100.0) AS BIGINT)))) AS t(k)
GROUP BY doc_id
""".strip(),
        "first_page": "SELECT doc_id, substring(text, 1, 100) AS first_page FROM documents",
        "span_offsets": f"WITH {SYNTH_CTE}\n"
        """
SELECT doc_id, "offset",
       CAST(COALESCE(SUM(length(text)) OVER (
         PARTITION BY doc_id ORDER BY "offset"
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS char_start
FROM spans
""".strip(),
        "transport_projection": """
SELECT doc_id, to_base64(encode(text)) AS content_b64, CAST(length(text) AS INT) AS n_chars_out
FROM documents
""".strip(),
        "filename_template": f"""
SELECT doc_id,
       regexp_replace('doc_' || CAST(doc_id AS VARCHAR) || '.txt', '\\.', '_', 'g') || '.pdf' AS storage_filename,
       'out/' || strftime(TIMESTAMP '{RUN_TS}', '%Y%m%d%H%M%S') || '/' ||
       regexp_replace('doc_' || CAST(doc_id AS VARCHAR) || '.txt', '\\.', '_', 'g') || '.pdf' AS storage_path
FROM documents
""".strip(),
        "pii_anonymize": "SELECT doc_id, "
        + _anon_sql(
            "text || ' Contact: john.doe@corp.example.org or +1-202-555-0147 ssn 123-45-6789.'"
        )
        + " AS anonymized FROM documents",
        "ner_anonymize": "SELECT doc_id, "
        + ner_anonymize_sql(f"text || '{NER_SEED}'")
        + " AS ner_masked FROM documents",
        "vocab_topk": f"""
SELECT word, CAST(COUNT(*) AS BIGINT) AS n_occ
FROM (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '[ \\t\\r\\n]+')) AS word
  FROM documents WHERE length(trim(text)) > 0
)
GROUP BY word
ORDER BY n_occ DESC, word ASC
LIMIT {VOCAB_K}
""".strip(),
        "length_quantiles": """
SELECT lang,
       round(quantile_cont(n_chars, 0.5) + 1e-9, 4) AS p50_chars,
       round(quantile_cont(n_chars, 0.9) + 1e-9, 4) AS p90_chars,
       round(quantile_cont(n_chars, 0.99) + 1e-9, 4) AS p99_chars,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents GROUP BY lang
""".strip(),
        "json_structuring": """
SELECT doc_id, to_json(struct_pack(doc_id := doc_id, lang := lang, n_chars := n_chars)) AS doc_json
FROM documents
""".strip(),
        "extraction_metrics_rollup": """
SELECT lang, source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST((10000 * SUM(n_chars) + COUNT(*) // 2) // COUNT(*) AS BIGINT) AS avg_chars_x10k
FROM documents GROUP BY lang, source
""".strip(),
        "quarantine_filter": """
SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 'empty' ELSE 'too_short' END AS reason
FROM documents WHERE n_chars < 60 OR length(trim(text)) = 0
""".strip(),
        "observed_metrics": f"""
WITH {SYNTH_CTE}
SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(strlen(text)) AS BIGINT) AS n_bytes
FROM spans
""".strip(),
        "token_count": """
SELECT doc_id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(regexp_split_to_array(trim(text), '[ \\t\\r\\n]+')) END AS INT) AS n_tokens
FROM documents
""".strip(),
        "token_count_bpe": f"""
WITH seeded AS (
  SELECT doc_id,
         text || ' ref-' || CAST(doc_id AS VARCHAR) || '.'
              || CAST(n_chars AS VARCHAR) || ': see http://ex.org/a?b=1.' AS t
  FROM documents
)
SELECT doc_id,
       CAST(CASE WHEN length(trim(t)) = 0 THEN 0
            ELSE len(regexp_split_to_array(trim(t), '[ \\t\\r\\n]+')) END AS INT) AS n_tokens_ws,
       CAST(len(regexp_extract_all(t, '{BPE_TOKEN_RE}')) AS INT) AS n_tokens_bpe
FROM seeded
""".strip(),
        "dedup_paragraphs": _dedup_paragraphs_sql(),
        "chunk_windows": f"""
WITH w AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text, ' ' || chr(9) || chr(13) || chr(10)),
                               '[ \\t\\r\\n]+') AS w,
         length(trim(text, ' ' || chr(9) || chr(13) || chr(10))) AS nt
  FROM documents
),
c AS (
  SELECT doc_id, w,
         CASE WHEN nt = 0 THEN 0
              WHEN len(w) <= {CHUNK_WIDTH} THEN 1
              ELSE CAST(ceil((len(w) - {CHUNK_WIDTH}) / {CHUNK_WIDTH - CHUNK_OVERLAP}.0) AS BIGINT) + 1
         END AS n_chunks
  FROM w
),
ex AS (SELECT doc_id, w, unnest(range(0, n_chunks)) AS i FROM c)
SELECT doc_id,
       CAST(i AS INT) AS chunk_no,
       CAST(len(w[CAST(i * {CHUNK_WIDTH - CHUNK_OVERLAP} + 1 AS INT):CAST(i * {CHUNK_WIDTH - CHUNK_OVERLAP} + {CHUNK_WIDTH} AS INT)]) AS INT) AS n_chunk_tokens,
       array_to_string(w[CAST(i * {CHUNK_WIDTH - CHUNK_OVERLAP} + 1 AS INT):CAST(i * {CHUNK_WIDTH - CHUNK_OVERLAP} + {CHUNK_WIDTH} AS INT)], ' ') AS chunk_text
FROM ex
""".strip(),
        "pack_sequences": f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id,
       CAST(n_tokens AS INT) AS n_tokens,
       CAST((cum - n_tokens) // {PACK_BUDGET} AS BIGINT) AS seq_id,
       CAST((cum - n_tokens) % {PACK_BUDGET} AS INT) AS seq_offset,
       CAST((CASE WHEN n_tokens > 0 THEN (cum - 1) // {PACK_BUDGET}
                  ELSE (cum - n_tokens) // {PACK_BUDGET} END)
            - (cum - n_tokens) // {PACK_BUDGET} + 1 AS INT) AS n_seqs_spanned
FROM c
""".strip(),
        "span_kind_stats": f"""
WITH {SYNTH_CTE}
SELECT doc_id,
       CAST(COUNT(*) AS INT) AS n_spans,
       CAST(COUNT(*) FILTER (WHERE kind IN ('pdf','image')) AS INT) AS n_media_spans,
       CAST(COALESCE(SUM(length(text)) FILTER (WHERE kind NOT IN ('pdf','image')), 0) AS BIGINT) AS n_text_chars,
       round(COUNT(*) FILTER (WHERE kind IN ('pdf','image')) / CAST(COUNT(*) AS DOUBLE) + 1e-9, 4) AS media_ratio
FROM spans GROUP BY doc_id
""".strip(),
        "pack_multimodal": f"""
WITH {SYNTH_CTE},
t AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN kind IN ('pdf','image') THEN {MM_MEDIA_TOKENS}
                       ELSE len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) END) AS BIGINT) AS n_tokens
  FROM spans GROUP BY doc_id
),
c AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id,
       CAST(n_tokens AS INT) AS n_tokens,
       CAST((cum - n_tokens) // {MM_PACK_BUDGET} AS BIGINT) AS seq_id,
       CAST((cum - n_tokens) % {MM_PACK_BUDGET} AS INT) AS seq_offset,
       CAST((CASE WHEN n_tokens > 0 THEN (cum - 1) // {MM_PACK_BUDGET}
                  ELSE (cum - n_tokens) // {MM_PACK_BUDGET} END)
            - (cum - n_tokens) // {MM_PACK_BUDGET} + 1 AS INT) AS n_seqs_spanned
FROM c
""".strip(),
        "url_domain_stats": f"""
WITH seeded AS (
  SELECT doc_id,
         text || ' via https://www.' || source || '-news.'
              || CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END
              || '/a/' || CAST(doc_id AS VARCHAR)
              || CASE WHEN doc_id % 5 = 0 THEN ' http://Ads.Example/banner?id=1 ' ELSE ' ' END AS t
  FROM documents
),
hosts AS (SELECT doc_id, unnest(regexp_extract_all(t, '{URL_RE}', 1)) AS h FROM seeded),
d AS (SELECT doc_id, regexp_replace(lower(h), '^www\\.', '') AS domain FROM hosts)
SELECT domain,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occ,
       domain IN ('{URL_BLOCKLIST[0]}', '{URL_BLOCKLIST[1]}') AS blocked
FROM d GROUP BY domain
""".strip(),
        "lang_id": _lang_id_sql(),
        "quality_score": _quality_sql(),
        "doc_fingerprint": """
SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint
FROM documents
""".strip(),
        "stratified_sample": _stratified_sample_oracle(),
        "sample_soft_quality": _sample_soft_sql(),
        "quota_tokens_per_source": _sampling.token_quota_per_stratum_sql(
            TOKEN_BUDGET_PER_SOURCE,
            "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '[ \\t\\r\\n]+')) END",
        ),
        "corpus_mix_weights": _mix_weights_oracle(),
        "dedup_jaccard_pairs": jaccard_full,
        "dedup_minhash_lsh": f"WITH {_SHINGLE_CTE},\n{_minhash_sig_sql()},\n{_lsh_bands_sql()}\n{_LSH_PAIRS_SQL}",
        "dedup_minhash_neardups": neardup_full,
        "neardup_clusters": neardup_clusters_sql,
        "neardup_keep_best": keep_best_sql,
        "corpus_datacard": datacard_sql,
        "quality_repetition": _repetition_sql(),
        "decontaminate_ngrams": _decontaminate_sql(),
        # the Bloom prefilter is exactness-restoring, so its oracle IS the
        # exact path's SQL — identical final rows by construction
        "decontaminate_bloom": _decontaminate_sql(),
        "anchor_text_agg": _anchor_text_agg_sql(),
        "link_pagerank": _link_pagerank_sql(),
        "dedup_simhash": _simhash_sql(),
        "ann_cosine_topk": _ann_cosine_sql(),
        "ann_batch_topk": _ann_batch_sql(),
        "ann_quantized_topk": _ann_quantized_sql(),
        # per-vector op: append is exactly the one-shot build
        "ann_quantized_append_topk": _ann_quantized_sql(),
        "url_canonicalize": _url_canonicalize_sql(),
        "dedup_incremental": _dedup_incremental_sql(),
        "dedup_exact_normalized": _dedup_exact_normalized_sql(),
        "tfidf_topk_terms": _tfidf_sql(),
        "ann_lsh_topk": _ann_lsh_sql(),
        "ann_ivf_topk": _ann_ivf_sql(),
        # append+compact against the frozen codebook must equal a one-shot
        # full assignment under that codebook — the SAME oracle (the
        # centroid residue class is disjoint from the held-out batch)
        "ann_ivf_append_topk": _ann_ivf_sql(),
        "dedup_embedding_cosine": _emb_neardup_sql(),
        "media_image_metadata": _media_meta_sql(),
        "image_header_meta": _image_header_meta_sql(),
        # Spark recovers the pages from real PDF bytes (deflate → object
        # graph → operator scan); the oracle re-paginates the source text
        # the parser's output is framed-layout-independent, so the oracle
        # re-derives every field from the source table directly; byte_len
        # is strlen (UTF-8 bytes, as Spark's length on binary), not
        # length (characters)
        "warc_ingest": f"""
SELECT CAST(doc_id // {WARC_SEG_DOCS} AS VARCHAR) AS segment,
       CAST(row_number() OVER (
           PARTITION BY doc_id // {WARC_SEG_DOCS}
           ORDER BY doc_id) AS INT) AS rec_no,
       'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
       CAST(200 AS INT) AS status,
       CASE WHEN doc_id % 2 = 0 THEN 'text/html' ELSE 'text/plain' END AS mime,
       CAST(strlen(CASE WHEN doc_id % 2 = 0
            THEN '<html><body><p>' || text || '</p></body></html>'
            ELSE text END) AS BIGINT) AS byte_len,
       md5(CASE WHEN doc_id % 2 = 0
            THEN '<html><body><p>' || text || '</p></body></html>'
            ELSE text END) AS body_md5
FROM documents
""".strip(),
        "pdf_text_extract": f"""
SELECT CAST(doc_id AS VARCHAR) AS media_ref, CAST(k AS INT) AS page_no,
       substring(text, (k - 1) * {PDF_PAGE_CHARS} + 1, {PDF_PAGE_CHARS})
         AS page_text
FROM documents,
     unnest(range(1, CAST(ceil(length(text) / {PDF_PAGE_CHARS}.0) AS INT) + 1))
       AS t(k)
WHERE length(text) > 0
""".strip(),
        "media_quarantine": _media_quarantine_sql(),
        "binary_ingest_sniff": _binary_sniff_sql(),
        "pdf_markdown_structuring": f"""
WITH {SYNTH_CTE},
{MEDIA_CTE}
SELECT media_ref,
       '# Document ' || media_ref || chr(10) || chr(10) ||
       string_agg('## Page ' || CAST(page_no AS VARCHAR) || chr(10) || chr(10) || page_text,
                  chr(10) || chr(10) ORDER BY page_no) AS markdown,
       COUNT(*) AS n_pages
FROM pages GROUP BY media_ref
""".strip(),
        "base64_ingest": """
WITH p AS (SELECT doc_id, '%PDF-1.7' || chr(10) || text AS payload FROM documents)
SELECT doc_id,
       md5(decode(from_base64(to_base64(encode(payload))))) AS payload_md5,
       CASE WHEN substring(payload, 1, 4) = '%PDF' THEN 'pdf'
            WHEN substring(payload, 1, 4) = 'GIF8' THEN 'gif'
            WHEN upper(substring(payload, 1, 9)) = '<!DOCTYPE' THEN 'html'
            WHEN upper(substring(payload, 1, 5)) = '<HTML' THEN 'html'
            ELSE 'text' END AS fmt
FROM p
""".strip(),
        "office_extract": (
            # the paragraph/slide join puts a break at the chunk boundary;
            # whitespace-normalized that is a single space between chunks
            "SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 'docx' ELSE 'pptx' END AS kind, "
            + _anon_sql(
                _norm_sql(
                    _xml_legal_sql(
                        f"substring(text, 1, {OFFICE_CHUNK}) || ' ' || "
                        f"substring(text, {OFFICE_CHUNK + 1}, {OFFICE_CHUNK})"
                    )
                )
            )
            + " AS text FROM documents"
        ),
        "tpch_q6_revenue": """
SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) + 1e-6, 2) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""".strip(),
        "tpch_q3_top_orders": """
SELECT l_orderkey, CAST(o_orderdate AS VARCHAR) AS o_orderdate_str, o_orderpriority,
       round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) + 1e-6, 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""".strip(),
        "tpch_q1_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
       round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) + 1e-6, 2) AS sum_disc_price,
       round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) + 1e-9, 6) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""".strip(),
        "tpch_q5_local_supplier": """
SELECT n_name,
       round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) + 1e-6, 2) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
""".strip(),
        "top_events_per_user": """
SELECT user_id, event_id, value, rn FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
  FROM events
) WHERE rn <= 3
""".strip(),
        "events_sessionize": """
WITH e AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
s AS (
  SELECT user_id, event_id, ts,
         CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS is_new
  FROM e
)
SELECT user_id, event_id, CAST(ts AS VARCHAR) AS ts_str,
       CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
FROM s
""".strip(),
        "events_hourly_rollup": """
SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour, event_type,
       COUNT(*) AS n_events,
       round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) + 1e-9, 4) AS total_value
FROM events GROUP BY 1, 2
""".strip(),
        "events_props_extract": """
WITH e AS (
  SELECT event_type, CAST(json_extract(props, '$.k') AS INT) AS k FROM events
)
SELECT event_type, k % 10 AS k_mod, COUNT(*) AS n_events,
       CAST(SUM(k) AS BIGINT) AS k_total
FROM e GROUP BY 1, 2
""".strip(),
        # DuckDB's native ASOF JOIN is the independent re-derivation of the
        # union-window construction in functions/temporal.py.
        "events_asof_purchase": """
WITH purch AS (
  SELECT user_id, ts, MAX(event_id) AS p_id
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT e.event_id, e.event_type,
       CAST(COALESCE(p.p_id, -1) AS BIGINT) AS prior_purchase_id,
       CAST(COALESCE(epoch_us(e.ts) - epoch_us(p.ts), -1) AS BIGINT) AS gap_us
FROM events e ASOF LEFT JOIN purch p
  ON e.user_id = p.user_id AND e.ts > p.ts
""".strip(),
        # Direct single-window form; Spark's two-phase salted plan must
        # select the identical rows.
        "quota_per_source": _sampling.quota_per_stratum_sql(QUOTA_PER_SOURCE),
        "shard_assign": _sampling.shard_assign_sql(N_SHARDS),
        "corpus_prep_e2e": prep_sql,
        # Gaps-and-islands re-derivation of the Spark F.aggregate fold:
        # run ids = rn - rn-within-(doc, flag); independent construction.
        "interleave_stats": f"""
WITH {SYNTH_CTE},
f AS (
  SELECT doc_id, k, (kind IN ('pdf','image')) AS m FROM spans
),
w AS (
  SELECT doc_id, k, m,
         CASE WHEN lag(m) OVER (PARTITION BY doc_id ORDER BY k) IS NOT NULL
                   AND lag(m) OVER (PARTITION BY doc_id ORDER BY k) <> m
              THEN 1 ELSE 0 END AS tr,
         row_number() OVER (PARTITION BY doc_id ORDER BY k)
           - row_number() OVER (PARTITION BY doc_id, m ORDER BY k) AS grp
  FROM f
),
runs AS (
  SELECT doc_id, m, grp, COUNT(*) AS run_len FROM w GROUP BY doc_id, m, grp
),
a1 AS (
  SELECT doc_id,
         CAST(COUNT(*) AS INT) AS n_spans,
         CAST(SUM(tr) AS INT) AS n_transitions,
         CAST(COALESCE(MIN(CASE WHEN m THEN k END), -1) AS INT) AS first_media_idx
  FROM w GROUP BY doc_id
),
a2 AS (
  SELECT doc_id,
         CAST(COALESCE(MAX(CASE WHEN m THEN run_len END), 0) AS INT) AS max_media_run,
         CAST(COALESCE(MAX(CASE WHEN NOT m THEN run_len END), 0) AS INT) AS max_text_run
  FROM runs GROUP BY doc_id
)
SELECT a1.doc_id, n_spans, n_transitions, max_media_run, max_text_run, first_media_idx
FROM a1 JOIN a2 ON a1.doc_id = a2.doc_id
""".strip(),
        # Same nearest-text rule via IGNORE-NULLS frame windows; tie -> the
        # earlier (preceding) text span, matching the Spark <= comparison.
        "media_text_pairing": f"""
WITH {SYNTH_CTE},
t AS (
  SELECT doc_id, k, kind, media_ref,
         CASE WHEN kind NOT IN ('pdf','image') THEN k END AS toff
  FROM spans
),
w AS (
  SELECT doc_id, k, kind, media_ref,
         last_value(toff IGNORE NULLS) OVER (
           PARTITION BY doc_id ORDER BY k
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
         first_value(toff IGNORE NULLS) OVER (
           PARTITION BY doc_id ORDER BY k
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
  FROM t
)
SELECT doc_id,
       CAST(k AS INT) AS media_idx,
       media_ref,
       CAST(COALESCE(CASE WHEN prev_t IS NULL THEN next_t
                          WHEN next_t IS NULL THEN prev_t
                          WHEN k - prev_t <= next_t - k THEN prev_t
                          ELSE next_t END, -1) AS INT) AS paired_text_idx,
       CAST(COALESCE(abs(k - (CASE WHEN prev_t IS NULL THEN next_t
                                   WHEN next_t IS NULL THEN prev_t
                                   WHEN k - prev_t <= next_t - k THEN prev_t
                                   ELSE next_t END)), -1) AS INT) AS pair_dist
FROM w WHERE kind IN ('pdf','image')
""".strip(),
        "epoch_shuffle": _sampling.epoch_shuffle_sql(
            EPOCH_SHARDS, seed="r4epoch"
        ),
        # Span-level boilerplate strip: distinct-DOC counts on md5(text),
        # media spans always kept; clean_fp joins kept pieces (media as
        # [media_ref] markers) on chr(31) in sequence order. string_agg
        # skips the NULLs the CASE emits for dropped spans — the same
        # conditional-collect contract as the Spark side's collect_list.
        "span_boilerplate_strip": f"""
WITH {SYNTH_CTE},
b AS (
  SELECT doc_id, k,
         (kind IN ('pdf','image')) AS is_media,
         CASE WHEN kind IN ('pdf','image')
              THEN '[' || media_ref || ']' ELSE text END AS piece,
         CASE WHEN kind NOT IN ('pdf','image') THEN md5(text) END AS fp
  FROM spans
),
c AS (
  SELECT fp, COUNT(DISTINCT doc_id) AS n_docs
  FROM b WHERE fp IS NOT NULL GROUP BY fp
)
SELECT b.doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN b.is_media THEN 1 ELSE 0 END) AS BIGINT) AS n_media,
       CAST(SUM(CASE WHEN b.is_media OR c.n_docs < 2 THEN 0 ELSE 1 END)
            AS BIGINT) AS n_dropped,
       md5(COALESCE(string_agg(
             CASE WHEN b.is_media OR c.n_docs < 2 THEN b.piece END,
             chr(31) ORDER BY b.k), '')) AS clean_fp
FROM b LEFT JOIN c ON b.fp = c.fp
GROUP BY b.doc_id
""".strip(),
        "media_reuse_stats": f"""
WITH {SYNTH_CTE}
SELECT media_ref,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_occ,
       COUNT(DISTINCT doc_id) >= 2 AS is_hot
FROM spans WHERE kind IN ('pdf','image')
GROUP BY media_ref
""".strip(),
        # Materialization half of the span strip: same keep semantics,
        # surviving spans re-numbered dense per doc in sequence order.
        "span_boilerplate_apply": f"""
WITH {SYNTH_CTE},
b AS (
  SELECT doc_id, k, kind, text, media_ref,
         (kind IN ('pdf','image')) AS is_media,
         CASE WHEN kind NOT IN ('pdf','image') THEN md5(text) END AS fp
  FROM spans
),
c AS (
  SELECT fp, COUNT(DISTINCT doc_id) AS n_docs
  FROM b WHERE fp IS NOT NULL GROUP BY fp
),
kept AS (
  SELECT b.doc_id, b.k, b.kind, b.text, b.media_ref
  FROM b LEFT JOIN c ON b.fp = c.fp
  WHERE b.is_media OR c.n_docs < 2
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY k) - 1 AS INT)
         AS "offset",
       kind, text, media_ref
FROM kept
""".strip(),
        # Composition of the interleave_stats and media_text_pairing CTE
        # chains; gates in integer arithmetic ('//' floors = Spark's
        # positive-int cast truncation).
        "mm_corpus_prep": f"""
WITH {SYNTH_CTE},
f AS (
  SELECT doc_id, k, (kind IN ('pdf','image')) AS m FROM spans
),
w AS (
  SELECT doc_id, k, m,
         CASE WHEN lag(m) OVER (PARTITION BY doc_id ORDER BY k) IS NOT NULL
                   AND lag(m) OVER (PARTITION BY doc_id ORDER BY k) <> m
              THEN 1 ELSE 0 END AS tr,
         row_number() OVER (PARTITION BY doc_id ORDER BY k)
           - row_number() OVER (PARTITION BY doc_id, m ORDER BY k) AS grp
  FROM f
),
runs AS (
  SELECT doc_id, m, grp, COUNT(*) AS run_len FROM w GROUP BY doc_id, m, grp
),
a1 AS (
  SELECT doc_id,
         CAST(COUNT(*) AS INT) AS n_spans,
         CAST(SUM(tr) AS INT) AS n_transitions,
         CAST(COALESCE(MIN(CASE WHEN m THEN k END), -1) AS INT) AS first_media_idx
  FROM w GROUP BY doc_id
),
a2 AS (
  SELECT doc_id,
         CAST(COALESCE(MAX(CASE WHEN m THEN run_len END), 0) AS INT) AS max_media_run
  FROM runs GROUP BY doc_id
),
t AS (
  SELECT doc_id, k, kind,
         CASE WHEN kind NOT IN ('pdf','image') THEN k END AS toff
  FROM spans
),
pw AS (
  SELECT doc_id, k, kind,
         last_value(toff IGNORE NULLS) OVER (
           PARTITION BY doc_id ORDER BY k
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
         first_value(toff IGNORE NULLS) OVER (
           PARTITION BY doc_id ORDER BY k
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
  FROM t
),
pd AS (
  SELECT doc_id,
         COALESCE(abs(k - (CASE WHEN prev_t IS NULL THEN next_t
                                WHEN next_t IS NULL THEN prev_t
                                WHEN k - prev_t <= next_t - k THEN prev_t
                                ELSE next_t END)), -1) AS dist
  FROM pw WHERE kind IN ('pdf','image')
),
anch AS (
  SELECT doc_id,
         CAST(COUNT(*) AS INT) AS n_media,
         CAST(SUM(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS INT) AS n_adjacent
  FROM pd GROUP BY doc_id
)
SELECT a1.doc_id, n_spans, n_transitions, max_media_run, n_media, n_adjacent,
       CAST((100 * n_adjacent) // n_media AS INT) AS adj_pct
FROM a1
JOIN a2 ON a1.doc_id = a2.doc_id
JOIN anch ON a1.doc_id = anch.doc_id
WHERE first_media_idx >= 0 AND n_transitions >= 2 AND max_media_run <= 2
  AND (100 * n_adjacent) // n_media >= 50
""".strip(),
    }
