"""Deterministic synthesis of the interleaved-documents table.

The build contract (``BASELINE.json:input_hint``) fixes the input shape:
``(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)``.
No such table ships with the driver data, so we synthesize it — fully
deterministically, with *pure DataFrame expressions* (no driver-side loops,
no RNG) — from ``/root/testdata/sf*/documents.parquet``. Determinism is
positional: every derived value is a function of ``(doc_id, text)`` only, so
the same rows come out at any parallelism / partitioning, which is exactly
what the strict span-sequence-equality invariant needs.

Synthesis rules (mirrored 1:1 by the DuckDB oracle SQL in
``__spark_entry__.py`` — keep the two in sync):

- each document yields ``n = clamp(ceil(n_chars/120), 1, 6)`` spans;
  span ``k`` covers ``substring(text, k*120+1, 120)``.
- ``kind(k) = KIND_CYCLE[(eff_id + k) % 6]`` where ``eff_id`` redirects
  ~5% of docs (``doc_id % 20 == 7``) to the payload of ``doc_id - 7`` —
  giving exact duplicate payloads across distinct doc_ids, which exercises
  the content-hash cache dedup join (the reference's Redis memoization,
  ``extract/tasks.py:44-69``).
- ``doc_id % 97 == 0`` docs get their text spans inflated 50× — the
  oversized-media skew knob (AQE skew-join splitting, session.py).
- ``pdf`` spans carry no inline text; their "pages" live in the sidecar
  ``media_pages`` table (1-based page order, mirroring
  ``converters/pdf_to_jpeg.py:16``) as two halves of the chunk.
- ``pii_text`` spans are seeded with synthetic emails / phone numbers so the
  anonymization pass has deterministic targets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .schema import SPAN_STRUCT  # noqa: F401  (documents the target shape)

KIND_CYCLE = ["text", "html", "markdown", "pdf", "image", "pii_text"]

CHUNK = 120
MAX_SPANS = 6
DUP_MOD = 20          # doc_id % 20 == 7  →  duplicate payload of doc_id-7
DUP_REM = 7
OVERSIZE_MOD = 97     # doc_id % 97 == 0  →  50× inflated text spans
OVERSIZE_REPEAT = 50
OFFICE_MOD = 10       # eff_id % 10 == 4  →  one extra office span (flagship
OFFICE_REM = 4        # corpus only; eff_id % 20 == 4 docx, % 20 == 14 pptx)

# HTML template pieces (single-line; newline handling differs across SQL
# dialects so the synthesized HTML is newline-free).
HTML_PRE = (
    '<html><head><title>Doc</title><style>p{margin:0}</style></head><body>'
    '<nav><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></nav>'
    '<div id="sidebar"><ul><li><a href="/p1">Related one</a></li>'
    '<li><a href="/p2">Related two</a></li></ul></div>'
    '<article><p>'
)
HTML_POST = (
    "</p></article>"
    '<footer>Copyright 2026 Example Corp. <a href="/terms">Terms</a> '
    '<a href="/privacy">Privacy</a></footer></body></html>'
)


def load_documents(
    spark: SparkSession, sf_dir: str, multiplier: int = 1, inflate: int = 1
) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if inflate > 1:
        # Bench-only corpus weighting: the driver's synthetic documents are
        # ~300 chars, far below real web documents (KB–MB); repeating the
        # text restores a realistic per-document compute/coordination ratio
        # for scaling measurements. Deterministic; off (1) everywhere except
        # the scaling bench.
        docs = docs.withColumn(
            "text", F.array_join(F.array_repeat(F.col("text"), inflate), " ")
        ).withColumn("n_chars", (F.col("n_chars") + 1) * inflate - 1)
    if multiplier > 1:
        # Deterministic corpus scale-up for scaling benchmarks: replica r of
        # doc d gets id d*multiplier+r and a distinct payload (suffix ' v{r}')
        # so content-hash dedup cannot collapse the extra work. Replica 0 is
        # byte-identical to the original document.
        docs = (
            docs.withColumn(
                "r", F.explode(F.sequence(F.lit(0), F.lit(multiplier - 1)))
            )
            .select(
                (F.col("doc_id") * multiplier + F.col("r")).alias("doc_id"),
                F.when(F.col("r") == 0, F.col("text"))
                .otherwise(F.concat(F.col("text"), F.lit(" v"), F.col("r").cast("string")))
                .alias("text"),
                "lang",
                "source",
                F.when(F.col("r") == 0, F.col("n_chars"))
                .otherwise(
                    F.col("n_chars") + 2 + F.length(F.col("r").cast("string"))
                )
                .alias("n_chars"),
            )
        )
    return docs.repartition(spark.sparkContext.defaultParallelism)


def _with_effective_payload(docs: DataFrame) -> DataFrame:
    """Redirect dup docs (doc_id%20==7) to the payload of doc_id-7.

    Self-equi-join on a derived key; the duplicate side is a small fraction,
    and the join key is unique on the right → no skew. At 10^12 docs this is
    a plain sort-merge (or storage-bucketed) join.
    """
    partner = docs.select(
        F.col("doc_id").alias("p_id"),
        F.col("text").alias("p_text"),
        F.col("n_chars").alias("p_n_chars"),
    )
    is_dup = (F.col("doc_id") % DUP_MOD == DUP_REM) & (F.col("doc_id") >= DUP_REM)
    # hint('merge'): the static planner sizes this join from the parquet
    # file footprint, but multiplier/inflate blow the real size up 100×+ —
    # an attempted broadcast of the full corpus OOMs. AQE downgrades the
    # sort-merge back to broadcast at runtime when the side is truly small.
    return (
        docs.withColumn("partner_id", F.when(is_dup, F.col("doc_id") - DUP_REM))
        .join(partner.hint("merge"), F.col("partner_id") == F.col("p_id"), "left")
        .select(
            F.col("doc_id"),
            F.coalesce("p_id", "doc_id").alias("eff_id"),
            F.coalesce("p_text", "text").alias("text"),
            F.coalesce("p_n_chars", "n_chars").alias("n_chars"),
            "lang",
            "source",
        )
    )


def synth_flat_spans(
    spark: SparkSession, sf_dir: str, multiplier: int = 1, inflate: int = 1
) -> DataFrame:
    """Flat span table: (doc_id string, offset, kind, text, media_ref).

    Pure JVM expressions end-to-end (whole-stage codegen); one narrow
    explode, no Python.
    """
    docs = _with_effective_payload(load_documents(spark, sf_dir, multiplier, inflate))
    # inflate scales the chunk size with the inflated text so spans grow to
    # realistic sizes (the span-count distribution is unchanged: n_chars and
    # chunk scale together).
    return _flat_spans_from_eff(docs, CHUNK * inflate)


def _flat_spans_from_eff(docs: DataFrame, chunk_sz: int) -> DataFrame:
    n_spans = F.least(
        F.lit(MAX_SPANS),
        F.greatest(F.lit(1), F.ceil(F.col("n_chars") / F.lit(float(chunk_sz)))),
    ).cast("int")

    df = docs.withColumn("k", F.explode(F.sequence(F.lit(0), n_spans - 1)))

    kind = F.element_at(
        F.array(*[F.lit(x) for x in KIND_CYCLE]),
        (F.pmod(F.col("eff_id") + F.col("k"), F.lit(6)) + 1).cast("int"),
    )
    chunk = F.substring(F.col("text"), F.col("k") * chunk_sz + 1, chunk_sz)
    oversized = F.col("eff_id") % OVERSIZE_MOD == 0

    text_span = F.when(oversized, F.repeat(chunk, OVERSIZE_REPEAT)).otherwise(chunk)
    html_span = F.concat(F.lit(HTML_PRE), chunk, F.lit(HTML_POST))
    md_span = F.concat(
        F.lit("# Section "), F.col("k").cast("string"),
        F.lit(" "), F.char(F.lit(10)), F.char(F.lit(10)), chunk,
    )
    pii_span = F.concat(
        chunk,
        F.lit(" Contact user"), F.col("eff_id").cast("string"),
        F.lit("@example.com or call 555-010"), F.col("k").cast("string"), F.lit("."),
    )
    media_ref = F.concat(
        F.when(kind == "pdf", F.lit("pdf://")).otherwise(F.lit("img://")),
        F.col("eff_id").cast("string"), F.lit("/"), F.col("k").cast("string"),
    )

    span_text = (
        F.when(kind == "text", text_span)
        .when(kind == "html", html_span)
        .when(kind == "markdown", md_span)
        .when(kind == "pii_text", pii_span)
        .otherwise(F.lit(""))
    )

    return df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("k").cast("int").alias("offset"),
        kind.alias("kind"),
        span_text.alias("text"),
        F.when(kind.isin("pdf", "image"), media_ref).otherwise(F.lit("")).alias("media_ref"),
        chunk.alias("_chunk"),  # internal: media-page derivation + oracle parity
    )


def synth_media_pages(flat: DataFrame, chunk_sz: int = CHUNK) -> DataFrame:
    """Sidecar page store for pageable media (pdf): 2 half-chunk pages.

    Page order is 1-based (pdf_to_jpeg.py:16). Empty second halves are
    dropped, so page counts vary — exercising the ordered regroup.
    """
    pdf = flat.filter(F.col("kind") == "pdf").select(
        "media_ref",
        F.substring("_chunk", 1, chunk_sz // 2).alias("p1"),
        F.substring("_chunk", chunk_sz // 2 + 1, chunk_sz // 2).alias("p2"),
    )
    pages = pdf.select(
        "media_ref",
        F.filter(
            F.array(
                F.struct(F.lit(1).alias("page_no"), F.col("p1").alias("page_text")),
                F.struct(F.lit(2).alias("page_no"), F.col("p2").alias("page_text")),
            ),
            lambda s: F.length(s["page_text"]) > 0,
        ).alias("pages"),
    )
    return (
        pages.select("media_ref", F.explode("pages").alias("p"))
        .select(
            "media_ref",
            F.col("p.page_no").alias("page_no"),
            F.col("p.page_text").alias("page_text"),
            F.encode(F.col("p.page_text"), "UTF-8").alias("payload"),
        )
        # dup docs share their partner's media_ref — the media store is a KV
        # keyed by (media_ref, page_no), so dedupe here
        .dropDuplicates(["media_ref", "page_no"])
    )


def _group_interleaved(flat: DataFrame) -> DataFrame:
    return flat.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("kind", "text", "media_ref", "offset")),
            lambda a, b: a["offset"] - b["offset"],
        ).alias("spans")
    )


def synthesize_interleaved(
    spark: SparkSession, sf_dir: str, multiplier: int = 1, inflate: int = 1
) -> tuple[DataFrame, DataFrame]:
    """(docs_interleaved, media_pages) — the nested input-contract shape.

    Span order inside the array is restored by sorting on the explicit
    ``offset`` (never partition/arrival order — north-rule invariant).
    """
    flat = synth_flat_spans(spark, sf_dir, multiplier, inflate)
    return _group_interleaved(flat), synth_media_pages(flat, CHUNK * inflate)


def synth_office_flat(docs_eff: DataFrame, chunk_sz: int = CHUNK) -> DataFrame:
    """One extra office span per eligible doc (``eff_id % 10 == 4``; docx
    when ``eff_id % 20 == 4``, pptx when ``% 20 == 14``) at offset
    ``MAX_SPANS`` — beyond every text span, so the rest of the synthesis
    (and its oracles) is untouched. Keyed on ``eff_id`` so duplicate docs
    share their partner's office payload and content-hash dedup still
    collapses them. Carries ``_chunk`` (the blob's source text) for the
    sidecar builder."""
    eligible = docs_eff.filter(F.col("eff_id") % OFFICE_MOD == OFFICE_REM)
    kind = F.when(
        F.col("eff_id") % (2 * OFFICE_MOD) == OFFICE_REM, F.lit("docx")
    ).otherwise(F.lit("pptx"))
    return eligible.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit(MAX_SPANS).cast("int").alias("offset"),
        kind.alias("kind"),
        F.lit("").alias("text"),
        F.concat(F.lit("office://"), F.col("eff_id").cast("string")).alias(
            "media_ref"
        ),
        F.substring(F.col("text"), 1, chunk_sz).alias("_chunk"),
    )


def synth_office_blobs(office_flat: DataFrame) -> DataFrame:
    """Office blob sidecar: (media_ref, payload) with real OOXML bytes built
    from each office span's source chunk (office.py make_docx/make_pptx —
    single paragraph / single slide). Iterator ``mapInPandas`` so only the
    office rows cross the Arrow boundary."""
    import pandas as pd  # noqa: PLC0415

    from .extractors.office import make_docx, make_pptx  # noqa: PLC0415

    def build(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "payload": [
                        make_docx([c or ""]) if k == "docx" else make_pptx([[c or ""]])
                        for k, c in zip(pdf["kind"], pdf["_chunk"])
                    ],
                }
            )

    return (
        office_flat.select("media_ref", "kind", "_chunk")
        # dup docs share their partner's media_ref — blob store is a KV
        .dropDuplicates(["media_ref"])
        .mapInPandas(build, "media_ref string, payload binary")
    )


def synthesize_interleaved_office(
    spark: SparkSession, sf_dir: str, multiplier: int = 1, inflate: int = 1
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(docs, media_pages, office_blobs) — the flagship-job corpus: the
    interleaved table PLUS deterministic docx/pptx spans whose OOXML payloads
    live in the office blob sidecar. The plain ``synthesize_interleaved``
    corpus is a strict subset (office spans only append at offset 6), so all
    existing oracles stay valid on their own corpus."""
    chunk_sz = CHUNK * inflate
    docs_eff = _with_effective_payload(
        load_documents(spark, sf_dir, multiplier, inflate)
    )
    flat = _flat_spans_from_eff(docs_eff, chunk_sz)
    office = synth_office_flat(docs_eff, chunk_sz)
    docs = _group_interleaved(flat.unionByName(office))
    return docs, synth_media_pages(flat, chunk_sz), synth_office_blobs(office)
