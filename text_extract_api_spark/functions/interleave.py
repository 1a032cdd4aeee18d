"""Interleaved-sequence structure operators — multimodal curation signals.

The input contract's payload is an *interleaved* text+media span sequence
(``BASELINE.json:input_hint``); these operators measure and exploit that
ordering, which none of the per-span or per-doc aggregates elsewhere do:

- :func:`interleave_stats` — per document, the modality *run structure* of
  the span sequence: text<->media transition count, longest consecutive
  media / text runs, and the index of the first media span. VLM data
  recipes (MMC4/OBELICS-style) gate on exactly these (e.g. drop docs whose
  media all clusters at the top, or with degenerate media-only runs).
  Implemented as a single ``F.aggregate`` fold over the nested ``spans``
  array — **zero shuffles**: the interleaved table already carries the
  sequence per row, so the whole signal is row-local whole-stage codegen.
  At 100 TB this scans once and never exchanges.

- :func:`media_text_pairing` — MMC4-style image-text alignment stand-in:
  assign every media span its nearest text-carrying span by sequence
  distance (tie -> the earlier span, matching MMC4's "assign to preceding
  text on tie"). Implemented over the flat span table with two frame-bound
  window passes (last-non-null before / first-non-null after) sharing ONE
  hash exchange on ``doc_id``; per-window state is O(1) per row (running
  last / first), never a per-doc buffer, so a pathological million-span
  document streams through the frame without materializing. The real
  CLIP-score refinement the reference ecosystem would apply is an external
  model (env-blocked here, like the OCR codecs); sequence-distance is the
  deterministic, oracle-checkable core.

Reference provenance: the reference processes documents as ordered page/
span streams (text_extract_api/extract/strategies/strategy.py,
converters/pdf_to_jpeg.py:16); the interleaved ordering invariants here are
the batch re-expression of that per-document ordered traversal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

MEDIA_KINDS = ("pdf", "image")


def interleave_stats(docs: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Per-doc modality run structure of the interleaved span sequence.

    Single fold (``F.aggregate``) over the already-ordered ``spans`` array:
    state = (idx, prev flag, current run, best media run, best text run,
    transitions, first media idx). Pure JVM expressions, zero shuffles,
    O(1) state per document regardless of span count.

    Returns ``(doc_id, n_spans, n_transitions, max_media_run,
    max_text_run, first_media_idx)`` with ``first_media_idx = -1`` for
    documents containing no media span (sentinel, not NULL: nullable ints
    decay to float64 through pandas/Arrow on the oracle side — the same
    reason events_asof_purchase coalesces to -1).
    """
    flags = F.transform(
        F.col(spans_col), lambda s: s["kind"].isin(*MEDIA_KINDS)
    )
    init = F.struct(
        F.lit(0).alias("idx"),
        F.lit(None).cast("boolean").alias("prev"),
        F.lit(0).alias("cur"),
        F.lit(0).alias("max_m"),
        F.lit(0).alias("max_t"),
        F.lit(0).alias("trans"),
        F.lit(-1).alias("first_m"),
    )

    def step(acc, m):
        same = acc["prev"].isNotNull() & (acc["prev"] == m)
        cur = F.when(same, acc["cur"] + 1).otherwise(F.lit(1))
        return F.struct(
            (acc["idx"] + 1).alias("idx"),
            m.alias("prev"),
            cur.alias("cur"),
            F.when(m, F.greatest(acc["max_m"], cur)).otherwise(acc["max_m"]).alias("max_m"),
            F.when(~m, F.greatest(acc["max_t"], cur)).otherwise(acc["max_t"]).alias("max_t"),
            (
                acc["trans"]
                + F.when(acc["prev"].isNotNull() & (acc["prev"] != m), 1).otherwise(0)
            ).alias("trans"),
            F.when(m & (acc["first_m"] < 0), acc["idx"]).otherwise(acc["first_m"]).alias("first_m"),
        )

    agg = F.aggregate(flags, init, step)
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.size(spans_col).cast("int").alias("n_spans"),
        agg["trans"].cast("int").alias("n_transitions"),
        agg["max_m"].cast("int").alias("max_media_run"),
        agg["max_t"].cast("int").alias("max_text_run"),
        agg["first_m"].cast("int").alias("first_media_idx"),
    )


def media_text_pairing(flat: DataFrame) -> DataFrame:
    """Nearest-text assignment for every media span (MMC4-style pairing).

    ``flat`` is the flat span table ``(doc_id, offset, kind, text,
    media_ref)`` with ``offset`` the 0-based sequence index. For each media
    span, emit the offset of the nearest text-carrying span by sequence
    distance; ties break to the EARLIER span. Docs with no text spans pair
    to -1 (sentinel for "unpairable" — surfaced, not dropped; sentinel not
    NULL for the same pandas float64-decay reason as interleave_stats).

    One hash exchange on ``doc_id`` feeds both frame-bound windows
    (running last-non-null / first-non-null), each O(1) state per row.
    """
    is_media = F.col("kind").isin(*MEDIA_KINDS)
    text_off = F.when(~is_media, F.col("offset"))
    w = Window.partitionBy("doc_id").orderBy("offset")
    prev_t = F.last(text_off, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    next_t = F.first(text_off, ignorenulls=True).over(
        w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    paired = (
        F.when(prev_t.isNull(), next_t)
        .when(next_t.isNull(), prev_t)
        .when(F.col("offset") - prev_t <= next_t - F.col("offset"), prev_t)
        .otherwise(next_t)
    )
    return (
        flat.withColumn("paired_text_idx", paired)
        .filter(is_media)
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.col("offset").cast("int").alias("media_idx"),
            "media_ref",
            F.coalesce(F.col("paired_text_idx"), F.lit(-1))
            .cast("int")
            .alias("paired_text_idx"),
            F.coalesce(
                F.abs(F.col("offset") - F.col("paired_text_idx")), F.lit(-1)
            )
            .cast("int")
            .alias("pair_dist"),
        )
    )


def _boiler_flagged(
    flat: DataFrame, min_docs: int, media_kinds: tuple
) -> tuple[DataFrame, "F.Column"]:
    """Shared flagging core of the span boilerplate pass: the flat span
    table annotated with (k, is_media, piece, fp, n_docs) plus the keep
    predicate. See :func:`strip_boilerplate_spans` for the scale design
    (hash-key-only exchanges, map-side distinct dedup)."""
    is_media = F.col("kind").isin(*media_kinds)
    base = flat.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("offset").alias("k"),
        F.col("kind"),
        F.col("text"),
        F.col("media_ref"),
        is_media.alias("is_media"),
        F.when(
            is_media, F.concat(F.lit("["), F.col("media_ref"), F.lit("]"))
        )
        .otherwise(F.col("text"))
        .alias("piece"),
        F.when(~is_media, F.md5("text")).alias("fp"),
    )
    counts = (
        base.filter(F.col("fp").isNotNull())
        .groupBy("fp")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
    )
    keep = F.col("is_media") | (F.col("n_docs") < min_docs)
    return base.join(counts, "fp", "left"), keep


def strip_boilerplate_apply(
    flat: DataFrame, min_docs: int = 2, media_kinds: tuple = MEDIA_KINDS
) -> DataFrame:
    """The MATERIALIZATION half of :func:`strip_boilerplate_spans`: the
    cleaned flat span table itself — every surviving span with its
    sequence offset REBASED to a dense 0..n-1 per document — i.e. the
    table a curation run writes back to Iceberg as the next corpus
    snapshot (the stats half only fingerprints it).

    Same keep semantics as the stats pass (text spans recurring in
    ``min_docs``+ distinct docs dropped, media spans always kept, NULL
    payloads dropped), so ``strip_boilerplate_spans``'s clean_fp is
    exactly the md5 of this table's pieces grouped per doc — the two
    outputs cross-check each other.

    Returns ``(doc_id, offset, kind, text, media_ref)`` — the input
    contract's flat shape, directly re-nestable. Adds ONE window (dense
    rank within doc) on top of the stats pass's exchanges; the window
    partitions on doc_id, so state is one counter per document, never a
    buffer. Documents whose every span was dropped simply emit no rows
    here — the stats pass is the one that guarantees a row per doc.
    """
    flagged, keep = _boiler_flagged(flat, min_docs, media_kinds)
    w = Window.partitionBy("doc_id").orderBy("k")
    return (
        flagged.filter(keep)
        .withColumn("offset", (F.row_number().over(w) - 1).cast("int"))
        .select("doc_id", "offset", "kind", "text", "media_ref")
    )


def strip_boilerplate_spans(
    flat: DataFrame, min_docs: int = 2, media_kinds: tuple = MEDIA_KINDS
) -> DataFrame:
    """Cross-document boilerplate removal at SPAN granularity — the
    interleaved-native analog of :func:`..dedup.paragraph_dedup`: drop
    every text-carrying span whose exact payload occurs in ``min_docs``+
    DISTINCT documents (nav bars, cookie banners, footer blocks — the
    dominant web-extraction noise OBELICS/MMC4 strip before pairing),
    ALWAYS keep media spans (hot images are flagged by
    :func:`media_reuse_stats`, never dropped here — dropping one would
    silently break the text↔media interleave structure downstream ops
    key on), and re-emit each document's surviving sequence fingerprint.

    Distinct-DOCUMENT counting (not raw occurrences) is what separates
    this from ``dedup_intradoc``: a chant repeated 50× inside one doc is
    intra-doc repetition, not corpus boilerplate, and survives this pass.

    Returns one row per input document — every doc survives, including
    all-dropped ones (n_kept = 0, clean_fp = md5(''), the
    ``paragraph_dedup`` every-doc-survives lesson): ``(doc_id, n_spans,
    n_media, n_dropped, clean_fp)`` with clean_fp = md5 of the kept
    pieces in sequence order joined on chr(31); media spans contribute
    ``[media_ref]`` markers so the fingerprint pins the full interleave
    structure, not just the text. A NULL text payload hashes to a NULL
    key, misses the count join, and is treated as dropped boilerplate
    (counted in n_spans, never in clean_fp) — same discipline as
    paragraph_dedup's NULL-element rule.

    Scale design — three bounded exchanges; the counting legs carry only
    hash keys, and the one payload-bearing exchange ships each kept piece
    exactly once:
    1. distinct-doc counts group on ``md5(text)`` (32-byte key, never the
       payload — oversized spans shuffle as hashes); Catalyst's distinct
       expansion gives map-side (fp, doc_id) dedup, so a span repeated
       throughout a partition crosses the wire once per partition.
    2. the count table joins back on the same fp key (co-partitioned;
       AQE broadcasts it when the distinct-span population is small).
    3. groupBy(doc_id) reassembly; the drop decision rides the SAME
       aggregation as the fingerprint (conditional collect_list —
       collect_list skips NULLs), so no fourth shuffle. This exchange's
       partial-aggregation buffers DO carry the kept pieces' text (the
       fingerprint needs the bytes co-resident per doc) — keys are doc
       ids, payload crosses once, bounded by document size. Pre-hashing
       pieces before the regroup would shed that payload but change the
       fingerprint definition; the per-doc payload bound is the accepted
       cost.
    Reference provenance: the reference strips boilerplate per-document
    inside the html strategy (extract/strategies/strategy.py); corpus-wide
    recurrence is the batch signal a single-doc service cannot see.
    """
    flagged, keep = _boiler_flagged(flat, min_docs, media_kinds)
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_spans"),
            F.sum(F.col("is_media").cast("int")).cast("bigint").alias("n_media"),
            F.sum(F.when(keep, 0).otherwise(1)).cast("bigint").alias("n_dropped"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(keep, F.struct(F.col("k"), F.col("piece")))
                            )
                        ),
                        lambda x: x["piece"],
                    ),
                    # unit separator: piece boundaries stay unambiguous
                    # under concat ("ab"+"c" != "a"+"bc")
                    "\x1f",
                )
            ).alias("clean_fp"),
        )
    )


def media_reuse_stats(
    flat: DataFrame, hot_min_docs: int = 3, media_kinds: tuple = MEDIA_KINDS
) -> DataFrame:
    """Per-media-ref corpus reuse statistics — the OBELICS-style hot-image
    prefilter signal: images recurring across many documents are logos,
    icons, and tracking pixels, not content, and the VLM recipes drop or
    down-weight them before pairing. ``span_boilerplate_strip`` is the
    text half of that pass; this is the media half, by reference only
    (content-level image near-dup would need decoded pixels).

    Returns ``(media_ref, n_docs, n_occ, is_hot)`` with ``n_docs`` the
    distinct-document recurrence, ``n_occ`` raw occurrences (an intra-doc
    repeat raises n_occ but not n_docs — same distinction as the span
    strip), and ``is_hot = n_docs >= hot_min_docs``.

    Scale design: one groupBy(media_ref) with Catalyst's distinct
    expansion (map-side (ref, doc) dedup before the exchange — a ref
    repeated through a partition crosses the wire once per partition);
    keys are refs, never payloads. Consumers anti-join or gate on is_hot.
    """
    media = flat.filter(F.col("kind").isin(*media_kinds)).select(
        F.col("doc_id").cast("string").alias("doc_id"), "media_ref"
    )
    return (
        media.groupBy("media_ref")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_occ"),
        )
        .withColumn("is_hot", F.col("n_docs") >= hot_min_docs)
    )


def mm_funnel_verdicts(
    docs_nested: DataFrame,
    flat: DataFrame,
    hot_fps: DataFrame,
    min_transitions: int = 2,
    max_media_run: int = 2,
    min_adj_pct: int = 50,
    boiler_max_pct: int = 50,
    media_kinds: tuple = MEDIA_KINDS,
    hot_refs: DataFrame | None = None,
    media_hot_max_pct: int = 50,
) -> DataFrame:
    """Per-document multimodal curation verdicts WITH REASONS — the
    reject-table form of :func:`mm_curation` that the resumable prep job
    (``jobs/mm_prep.py``) persists, plus the cross-document boilerplate
    gate from :func:`strip_boilerplate_spans`.

    ``hot_fps`` is the corpus-global boilerplate state: ``(fp)`` rows for
    every md5(text) whose payload recurs in ≥ min_docs distinct documents
    (stage 1 of the job materializes it once). Every OTHER signal is
    doc-local, so given that one table this funnel is subset-safe: the
    job runs it per bucket wave and a crash re-does at most one wave.

    ``hot_refs`` is the optional second piece of corpus-global state:
    ``(media_ref)`` rows for media recurring across documents
    (:func:`media_reuse_stats` with ``is_hot`` — the OBELICS logo/icon
    signal). When provided, documents whose media is mostly corpus-
    recurring (> ``media_hot_max_pct``) are rejected as ``hot_media``.

    Verdict precedence (first failing gate names the reason):
    ``no_media`` → ``not_interleaved`` (transition/media-run structure) →
    ``unanchored`` (nearest-text distance) → ``boilerplate`` (> boiler_max_pct
    of text spans are corpus-recurring) → ``hot_media`` → ``keep``.

    Returns ``(doc_id, verdict, boiler_pct)`` — one row per input doc.
    Plan shape: the stats fold is row-local; anchoring is one windowed
    pass + groupBy sharing the doc_id exchange; the boilerplate side is a
    left-semi probe of 32-byte fingerprints against ``hot_fps`` (AQE
    broadcasts it when small) + one groupBy(doc_id); verdict assembly is
    three left equi-joins on doc_id over doc-sized frames.
    """
    stats = interleave_stats(docs_nested)
    anchored = (
        media_text_pairing(flat)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_media"),
            F.sum(F.when(F.col("pair_dist") == 1, 1).otherwise(0))
            .cast("int")
            .alias("n_adjacent"),
        )
        .withColumn(
            "adj_pct",
            (F.lit(100) * F.col("n_adjacent") / F.col("n_media")).cast("int"),
        )
    )
    texts = flat.filter(~F.col("kind").isin(*media_kinds)).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.md5("text").alias("fp"),
    )
    n_text = texts.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_text")
    )
    n_hot = (
        texts.join(hot_fps.select("fp"), "fp", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("int").alias("n_hot"))
    )
    base = (
        stats.join(anchored, "doc_id", "left")
        .join(n_text, "doc_id", "left")
        .join(n_hot, "doc_id", "left")
    )
    if hot_refs is not None:
        n_hot_media = (
            flat.filter(F.col("kind").isin(*media_kinds))
            .select(
                F.col("doc_id").cast("string").alias("doc_id"), "media_ref"
            )
            .join(hot_refs.select("media_ref"), "media_ref", "left_semi")
            .groupBy("doc_id")
            .agg(F.count("*").cast("int").alias("n_hot_media"))
        )
        base = base.join(n_hot_media, "doc_id", "left")
        hot_media_pct = F.when(
            F.coalesce(F.col("n_media"), F.lit(0)) == 0, F.lit(0)
        ).otherwise(
            (
                F.lit(100)
                * F.coalesce(F.col("n_hot_media"), F.lit(0))
                / F.col("n_media")
            ).cast("int")
        )
    else:
        hot_media_pct = F.lit(0)
    boiler_pct = F.when(
        F.coalesce(F.col("n_text"), F.lit(0)) == 0, F.lit(0)
    ).otherwise(
        (F.lit(100) * F.coalesce(F.col("n_hot"), F.lit(0)) / F.col("n_text"))
        .cast("int")
    )
    verdict = (
        F.when(F.col("first_media_idx") < 0, F.lit("no_media"))
        .when(
            (F.col("n_transitions") < min_transitions)
            | (F.col("max_media_run") > max_media_run),
            F.lit("not_interleaved"),
        )
        .when(F.coalesce(F.col("adj_pct"), F.lit(0)) < min_adj_pct,
              F.lit("unanchored"))
        .when(boiler_pct > boiler_max_pct, F.lit("boilerplate"))
        .when(hot_media_pct > media_hot_max_pct, F.lit("hot_media"))
        .otherwise(F.lit("keep"))
    )
    return base.select(
        "doc_id", verdict.alias("verdict"), boiler_pct.alias("boiler_pct")
    )


def mm_curation(
    docs_nested: DataFrame,
    flat: DataFrame,
    min_transitions: int = 2,
    max_media_run: int = 2,
    min_adj_pct: int = 50,
) -> DataFrame:
    """Composed multimodal curation funnel (the VLM analog of the text
    corpus-prep pipeline): keep documents that are *genuinely interleaved*
    and whose media is *anchored to text*, MMC4/OBELICS-style.

    Gates, all integer arithmetic (hash-stable on any engine):

    1. has media (``first_media_idx >= 0``);
    2. interleaved structure: ``n_transitions >= min_transitions`` and
       ``max_media_run <= max_media_run`` (media walls are galleries, not
       documents);
    3. text anchoring: ``adj_pct = 100*n_adjacent // n_media >=
       min_adj_pct`` where adjacent means the nearest text span sits at
       sequence distance 1.

    Plan shape: the stats gate is the row-local :func:`interleave_stats`
    fold (zero shuffles of its own); the anchoring side is one
    groupBy(doc_id) over :func:`media_text_pairing`'s windowed output,
    already hash-partitioned by doc_id — AQE reuses the exchange — plus
    one equi-join on doc_id to combine the two signals. Nothing in the
    funnel is quadratic or driver-side.
    """
    stats = interleave_stats(docs_nested).filter(
        (F.col("first_media_idx") >= 0)
        & (F.col("n_transitions") >= min_transitions)
        & (F.col("max_media_run") <= max_media_run)
    )
    anchored = (
        media_text_pairing(flat)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_media"),
            F.sum(F.when(F.col("pair_dist") == 1, 1).otherwise(0))
            .cast("int")
            .alias("n_adjacent"),
        )
        .withColumn(
            "adj_pct",
            (F.lit(100) * F.col("n_adjacent") / F.col("n_media"))
            .cast("int"),
        )
    )
    return (
        stats.join(anchored, "doc_id")
        .filter(F.col("adj_pct") >= min_adj_pct)
        .select(
            "doc_id", "n_spans", "n_transitions", "max_media_run",
            "n_media", "n_adjacent", "adj_pct",
        )
    )
