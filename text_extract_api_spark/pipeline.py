"""The extraction pipeline — one declarative DataFrame plan.

This is the Spark re-expression of the reference's per-document task
lifecycle (``extract/tasks.py:18-96``):

    read docs → content_hash (md5, file_format.py:109-110)
      → cache probe (Redis get, tasks.py:44-48)  ⇒  inner/anti join split
      → strategy dispatch by kind (file_format.py:196-202) ⇒ CASE routing
      → per-kind extraction (strategies/*)        ⇒ Column exprs + one mapInPandas
      → page concat in page order (easyocr.py:52-56, pdf_to_jpeg.py:16)
                                                  ⇒ media join + sorted agg
      → PII pass (tasks.py:71-84 LLM prompt)      ⇒ regexp_replace chain
      → cache fill (tasks.py:68-69)               ⇒ new-cache append
      → ordered span reassembly                   ⇒ collect_list + array_sort

Scale properties (the part that matters at 10^12 docs):

- **compute once per distinct payload**: extraction runs on one
  representative row per ``content_hash`` and fans back with an equi-join —
  the batch generalization of the reference's cross-request Redis
  memoization. Duplicate-heavy corpora do proportionally less work.
- **span arrays never ride a content_hash exchange before dedup** (r3):
  the cache probe, rep-dedup, and fan-back all shuffle only
  ``(doc_id, content_hash)``; arrays are reattached via one doc_id-aligned
  join (exchange-free on the heavy side for doc_id-partitioned input).
  Only the *representative* span arrays move by content_hash: once
  through one explicit-count exchange under the extraction legs, and once
  more as the reassemble over the *extracted* spans.
- **every leg runs on every core**: that exchange under the legs has
  ``spark.sql.shuffle.partitions`` partitions, fixed, not AQE-sized. AQE
  coalesces each union child as its own group and splits its minimum
  parallelism between them by input size; legs reading the rep-join
  exchanges directly got one task each, and shuffle bytes (compressed
  text) say nothing about a leg's Python cost. AQE never coalesces an
  explicit-count repartition, and all legs reuse the one exchange, so the
  rep join runs once. Elsewhere AQE coalesces/splits partitions at
  runtime; cache joins broadcast automatically when the cache side is
  small.
- **no per-row Python outside one leg**: text/markdown/pii/pdf paths are
  whole-stage codegen; html and office spans cross into ONE Arrow-batched
  ``mapInPandas`` that dispatches on kind, and only their rows pay for
  it (every other row stays in the JVM legs).
- **order is explicit**: every regroup sorts on ``offset`` / ``page_no``,
  never on arrival order (strict span-sequence-equality invariant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .extractors.pii import anonymize_col
from .schema import MEDIA_KINDS

# Canonical payload separators (unit / record) for content hashing.
US = "\x1f"
RS = "\x1e"

PAGE_SEP = "\n\n"  # page-join separator (easyocr.py:56)


def sorted_spans(spans_col):
    """Sort a span array by its explicit offset — the only legal order."""
    return F.array_sort(spans_col, lambda a, b: a["offset"] - b["offset"])


def content_hash_col(spans_col) -> F.Column:
    """md5 over the canonical ordered payload — the engine's analog of the
    reference's ``md5(binary)`` cache key (file_format.py:109-110). A doc
    with null ``spans`` hashes to ''."""
    payload = F.array_join(
        F.transform(
            sorted_spans(spans_col),
            lambda s: F.concat_ws(US, s["kind"], s["text"], s["media_ref"]),
        ),
        RS,
    )
    # Non-nullable on purpose. A parquet read makes ``spans`` nullable; a
    # nullable hash lets the optimizer push an inferred
    # ``isnotnull(content_hash)`` into the JVM legs' subtree but not past
    # the Python leg's mapInPandas, so the legs' copies of the dedup chain
    # stop matching and Spark runs it twice instead of reusing one exchange.
    return F.coalesce(F.md5(payload), F.lit(""))


def with_content_hash(docs: DataFrame) -> DataFrame:
    return docs.withColumn("content_hash", content_hash_col(F.col("spans")))


def pdf_page_texts(media_pages: DataFrame, page_sep: str | None = None) -> DataFrame:
    """media_pages → (media_ref, pdf_text): pages joined with a blank line in
    explicit 1-based page order (pdf_to_jpeg.py:16, easyocr.py:56)."""
    return media_pages.groupBy("media_ref").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("page_no", "page_text")),
                    lambda a, b: a["page_no"] - b["page_no"],
                ),
                lambda s: s["page_text"],
            ),
            page_sep or PAGE_SEP,
        ).alias("pdf_text")
    )


# what each extraction leg hands to the union
_LEG_COLS = ("key", "kind", "media_ref", "offset", "extracted")


def _python_leg(
    rows: DataFrame, py_fns: dict, office_blobs: DataFrame | None
) -> DataFrame:
    """Every ``py_fn`` kind's rows in ONE Arrow leg: media-kind rows get
    their blob payload from one merge-hinted left join (the blob table
    scales with the corpus; AQE re-plans small cases to broadcast), all
    other rows a null payload, then one ``mapInPandas`` calls each row's
    per-span function. Html rows never enter the join: their ``media_ref``
    is '', one hot key that would put every html row in one partition.
    With no blob store every row gets a null payload, so the office
    functions return '' (the span a missing blob also yields)."""
    null_payload = F.lit(None).cast("binary").alias("payload")
    media = [k for k in py_fns if k in MEDIA_KINDS]
    if office_blobs is None or not media:
        rows = rows.select("*", null_payload)
    else:
        kind = F.col("kind")
        rows = rows.filter(~kind.isin(*media)).select("*", null_payload).unionByName(
            rows.filter(kind.isin(*media)).join(
                office_blobs.select("media_ref", "payload").hint("merge"),
                "media_ref",
                "left",
            )
        )
    out_schema = T.StructType(
        [rows.schema[c] for c in _LEG_COLS[:-1]]
        + [T.StructField("extracted", T.StringType())]
    )

    def run(batches):
        for batch in batches:
            batch["extracted"] = [
                py_fns[k](t, p)
                for k, t, p in zip(batch["kind"], batch["text"], batch["payload"])
            ]
            yield batch[list(_LEG_COLS)]

    return rows.select(*_LEG_COLS[:-1], "text", "payload").mapInPandas(
        run, out_schema
    )


def extract_spans_flat(
    flat: DataFrame,
    media_pages: DataFrame | None,
    office_blobs: DataFrame | None = None,
    registry=None,
) -> DataFrame:
    """Route + extract one exploded span table — registry-driven dispatch.

    ``flat``: (key, kind, text, media_ref, offset) where ``key`` is any
    grouping key column named ``key`` (doc_id or content_hash).
    Returns the same shape with extracted text.

    Strategies come from the registry (``conf/strategies.yaml`` +
    autodiscovery — the reference's YAML registry, strategy.py:73-139);
    passing ``registry`` overrides per-call (register/override API, U4).
    Routing is split-per-leg, not a CASE over all rows; there are at most
    (accepted ``leg_fn`` legs) + 2 legs:

    - each **leg_fn strategy** (pdf) gets its own leg over only its kinds'
      rows. For the pdf join leg that avoids shuffling non-pdf rows
      (media_ref '' — a maximally hot key) through the join — a textbook
      skew bug at scale. A leg_fn may decline (return None, e.g. no page
      store supplied) — its kinds then fall to the default leg: a corpus
      without media must not pay an extra consumer pass over the
      upstream exchange.
    - all **py_fn strategies** (html, html_md, docx, pptx) share ONE
      Python leg over only their kinds' rows (``_python_leg``), the first
      registration winning a kind. Filtering is load-bearing: feeding ''
      for non-matching rows still ships every row across the Arrow
      boundary, measured 2-5× slower on the sf0.1 bench and it
      *anti-scaled* with worker count (9.7 s at 32 cores vs 5.7 s at 8;
      filtered: 2.0 s).
    - all **column_fn strategies** (text, markdown, pii_text) fuse into ONE
      pure-JVM when-chain leg, whole-stage codegen, unclaimed kinds → ''.

    The legs reunion with ``unionByName``; per-span order is carried by the
    explicit ``offset`` so the union order is irrelevant.
    """
    if registry is None:
        from .registry import default_registry

        registry = default_registry()

    kind = F.col("kind")
    ctx = {"media_pages": media_pages, "office_blobs": office_blobs}

    legs: list[DataFrame] = []
    claimed: list[str] = []
    py_fns: dict = {}
    column_strategies = []
    for strat in registry.strategies():
        if strat.leg_fn is not None:
            leg = strat.leg_fn(flat.filter(kind.isin(*strat.kinds)), ctx, strat.config)
            if leg is not None:
                legs.append(leg.select(*_LEG_COLS))
                claimed.extend(strat.kinds)
        elif strat.py_fn is not None:
            for k in strat.kinds:
                py_fns.setdefault(k, strat.py_fn)
        else:
            column_strategies.append(strat)

    py_fns = {k: fn for k, fn in py_fns.items() if k not in claimed}
    if py_fns:
        legs.append(
            _python_leg(flat.filter(kind.isin(*py_fns)), py_fns, office_blobs)
        )
        claimed.extend(py_fns)

    expr = None
    for strat in column_strategies:
        cond = kind.isin(*strat.kinds)
        col = strat.column_fn(F.col("text"), strat.config)
        expr = F.when(cond, col) if expr is None else expr.when(cond, col)
    expr = expr.otherwise(F.lit("")) if expr is not None else F.lit("")

    # coalesce: ~isin is NULL (not false) for NULL kind — without it a
    # NULL-kind row matches no leg and silently vanishes from the output.
    not_claimed = (
        F.coalesce(~kind.isin(*claimed), F.lit(True)) if claimed else F.lit(True)
    )
    legs.append(
        flat.filter(not_claimed).withColumn("extracted", expr).select(*_LEG_COLS)
    )

    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.select(
        "key",
        kind.alias("kind"),
        # the deterministic PII pass runs over ALL extracted text (north rule)
        anonymize_col(F.col("extracted")).alias("text"),
        F.when(kind.isin(*MEDIA_KINDS), F.col("media_ref"))
        .otherwise(F.lit(""))
        .alias("media_ref"),
        F.col("offset"),
    )


def _reassemble(flat: DataFrame, key: str) -> DataFrame:
    return flat.groupBy(F.col("key").alias(key)).agg(
        sorted_spans(
            F.collect_list(F.struct("kind", "text", "media_ref", "offset"))
        ).alias("spans")
    )


def run_extract_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    media_pages: DataFrame | None = None,
    cache: DataFrame | None = None,
    run_id: str = "run-0",
    office_blobs: DataFrame | None = None,
    registry=None,
) -> tuple[DataFrame, DataFrame]:
    """Full pipeline. Returns (results, new_cache_entries).

    results: (doc_id, content_hash, spans, run_id, from_cache)
    new_cache_entries: (content_hash, spans, run_id) — append to the cache
    table for the next run (the reference's Redis ``set``, tasks.py:68-69).
    """
    # SLIM HOT PATH (r3, VERDICT r2 item 4): the full span arrays must never
    # ride a content_hash exchange — at 100 TB the shuffled-bytes DRAM
    # traffic is what erodes N→4N scaling. Every content_hash-keyed step
    # (cache probe, rep-dedup, fan-back) operates on the 2-string projection
    # (doc_id, content_hash); the arrays are reattached through ONE
    # doc_id-equi-join against the input, which needs NO exchange on the
    # heavy side when the input is doc_id-partitioned (the persisted
    # synthesis output is; an Iceberg deployment buckets the table by
    # doc_id). The only remaining full-array shuffle inside the pipeline is
    # the reassemble groupBy over the *extracted* spans — irreducible: that
    # is the data movement that builds the output.
    docs_h = with_content_hash(docs).select("doc_id", "content_hash", "spans")
    # ONE tiny exchange materializes the md5 results: slim feeds several
    # consumers (cache probe, anti join, rep-id groupBy, fan-back), and
    # without the exchange each one re-hashes the full canonical payload
    # (~KBs per doc — measured as a top CPU stage). The exchange output is
    # 2 strings/doc, every consumer needs exactly hashpartitioning
    # (content_hash), and all branches reuse the same shuffle (identical
    # canonical plan — no per-branch column pruning can split 2 columns).
    slim = docs_h.select("doc_id", "content_hash").repartition("content_hash")

    if cache is not None:
        # The cache table may legitimately hold duplicate hashes (appends
        # from overlapping runs/waves); probing must treat it as a KV store
        # — exactly one value per key — or the inner join multiplies rows.
        cache_slim = cache.select(
            "content_hash", F.col("spans").alias("cached_spans")
        ).dropDuplicates(["content_hash"])
        hits = (
            slim.join(cache_slim, "content_hash", "inner")
            .select(
                "doc_id",
                "content_hash",
                F.col("cached_spans").alias("spans"),
                F.lit(run_id).alias("run_id"),
                F.lit(True).alias("from_cache"),
            )
        )
        miss_slim = slim.join(
            cache_slim.select("content_hash"), "content_hash", "left_anti"
        )
    else:
        hits = None
        miss_slim = slim

    # Compute once per distinct payload: pick one representative doc per
    # hash (min doc_id — any stable pick works, payloads are identical by
    # construction) shuffling only the two key strings, then reattach the
    # spans from the input. merge hint: rep_ids scales with the corpus but
    # derived lineage hides that from the static planner; AQE re-plans
    # genuinely small cases back to broadcast and splits skewed partitions.
    rep_ids = miss_slim.groupBy("content_hash").agg(
        F.min("doc_id").alias("doc_id")
    )
    reps = rep_ids.hint("merge").join(
        docs_h.select("doc_id", "spans"), "doc_id", "inner"
    )
    # ONE explicit-count exchange under the legs, so every leg runs
    # shuffle.partitions tasks (module docstring: "every leg runs on every
    # core"). It sits BEFORE the explode: the optimizer pushes each leg's
    # kind filter through a repartition (one exchange per leg, each
    # re-running the rep join) but not through the explode that makes
    # ``kind``, so all legs reuse this exchange and the rep join runs once.
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    rep_flat = (
        reps.select(F.col("content_hash").alias("key"), "spans")
        .repartition(n_parts, "key")
        .select("key", F.explode("spans").alias("s"))
        .select("key", "s.kind", "s.text", "s.media_ref", "s.offset")
    )

    rep_out = _reassemble(
        extract_spans_flat(rep_flat, media_pages, office_blobs, registry),
        "content_hash",
    )

    new_cache = rep_out.select(
        "content_hash", "spans", F.lit(run_id).alias("run_id")
    )

    # fan-back: rep_out is already hash-partitioned by content_hash (it is
    # the reassemble output), so only the slim side moves. A left join: a
    # doc whose spans are null or [] explodes to nothing, so rep_out holds
    # no row for it, and it still gets a result row with no spans.
    computed = (
        miss_slim
        .join(rep_out.hint("merge"), "content_hash", "left")
        .select(
            "doc_id",
            "content_hash",
            F.coalesce(
                "spans", F.array().cast(rep_out.schema["spans"].dataType)
            ).alias("spans"),
            F.lit(run_id).alias("run_id"),
            F.lit(False).alias("from_cache"),
        )
    )

    results = computed if hits is None else computed.unionByName(hits)
    return results, new_cache


def extract_flat_no_cache(
    spark: SparkSession,
    docs: DataFrame,
    media_pages: DataFrame | None = None,
    office_blobs: DataFrame | None = None,
    registry=None,
) -> DataFrame:
    """Cache-free flat extraction (doc_id, offset, kind, text, media_ref) —
    the shape used for oracle comparison (flat rows hash more robustly than
    nested arrays)."""
    flat = docs.select(
        F.col("doc_id").alias("key"), F.explode("spans").alias("s")
    ).select("key", "s.kind", "s.text", "s.media_ref", "s.offset")
    out = extract_spans_flat(flat, media_pages, office_blobs, registry)
    return out.select(
        F.col("key").alias("doc_id"), "offset", "kind", "text", "media_ref"
    )
