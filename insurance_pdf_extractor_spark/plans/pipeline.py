"""End-to-end extraction plan.

Shape (scale rationale):

    scan(documents_raw)
      → validity filters (P1-P3) with a rejects side-output (lineage,
        never silently dropped)
      → split into small and oversized docs; each branch then gets its
        own explicit repartition on hash(doc_id) (north rule: salted
        spread of documents across partitions), sized by AQE from the
        branch's shuffle bytes — an empty branch costs one task, not
        spark.sql.shuffle.partitions Python tasks
      → small docs: ONE fused Arrow kernel (tokenize→layout→
        boilerplate→assemble). Each document is a single row, so this
        path is shuffle-free and embarrassingly parallel — at 10^12
        docs the plan is a pure map, bounded only by scan + CPU.
      → oversized docs (size > shard threshold): page-range sharding →
        per-shard kernel → groupBy(doc_id) merge. Only the skewed tail
        pays a shuffle, and it is a shuffle of *small line lists*, not
        raw bytes-heavy content.
      → union → field extraction/validation (pure Catalyst expressions)
      → results + per-partition checkpoint/lineage writes.

Plan building (on the Spark driver): every Column tree below — reject reason,
kernel and shard projections, the ~700-Column field and results stages
— is built once per process and memoized on the live SparkContext plus
the builder arguments (functions/memo.py). A call only replays those
Columns as the same sequence of filter/select/drop projections, so a
warm ``extract_results()`` costs its DataFrame calls, not the ~12k py4j
round trips of constructing the trees.

Reference lifecycle being re-expressed: POST /api/v1/extract
(app/api/routes/extraction.py:79-199 → app/services/pdf_processor.py:29-169).
"""

from __future__ import annotations

import itertools
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..constants import (
    DEFAULT_MODEL,
    EMPTY_VALUE,
    FIELD_NAMES,
    MAX_FILE_SIZE_BYTES,
    SHARD_FRAC,
    SHARD_PAGES,
    SHARD_SIZE_BYTES,
)
from ..operators.assemble import (
    decode_filters_udf,
    extract_spans_udf,
    merge_sharded_lines,
    shard_lines_udf,
    shard_offsets_udf,
)
from ..operators.fields import DOC_TEXT, extract_fields
from ..operators.html import HTML_SNIFF
from ..schema import DOCUMENTS_SIZED
from ..functions.confidence import confidence_map_expr, estimated_cost_expr, token_count_expr
from ..functions.memo import column_memo

PDF_MAGIC = bytes(b"%PDF-")
# 5-byte magic prefixes the pipeline accepts: exactly what
# operators/html.sniff_format reads as a document — the PDF magic, or an
# HTML prefix in any ASCII letter case (HTML joins PDF; north rule: the
# corpus interleaves formats). Spelling out every case variant keeps the
# check a literal set on the binary column, with no per-row lower().
VALID_MAGICS = (PDF_MAGIC,) + tuple(
    bytes(v)
    for prefix in HTML_SNIFF
    for v in itertools.product(*(sorted({c, ord(chr(c).upper())}) for c in prefix))
)


def effective_shard_size(max_size_bytes: int, shard_size_bytes: int | None) -> int:
    """Resolve the shard threshold: an explicit value wins; otherwise
    min(SHARD_SIZE_BYTES, max_size_bytes * SHARD_FRAC) so the oversized
    path is reachable under whatever size cap is active (see
    constants.py for the measured break-even rationale)."""
    if shard_size_bytes is not None:
        return shard_size_bytes
    return min(SHARD_SIZE_BYTES, int(max_size_bytes * SHARD_FRAC))


def classify_rejects(raw: DataFrame, max_size_bytes: int = MAX_FILE_SIZE_BYTES) -> DataFrame:
    """P1-P3: size cap (app/services/pdf_processor.py:355-360), magic
    bytes (app/utils/file_helpers.py:15-50), zero pages
    (app/services/pdf_processor.py:366-368).

    When the source carries a ``magic`` prefix column (written by
    render_documents_raw / any ingest that stores the first 5 bytes),
    the magic check uses it instead of slicing ``content`` — so the
    reject branch of the extraction plan never references the content
    column and its scan prunes to metadata width. At corpus scale that
    is the difference between the reject side-output being free and it
    re-reading every content byte (the reject predicate itself is a
    CASE expression parquet cannot evaluate, so only column pruning —
    not row filtering — can save that scan).

    Contract: a present ``magic`` column must be non-null for every row
    with readable content — the render path always writes it, and
    ``read_table_evolved`` backfills it for legacy rows read through
    schema evolution. Under that contract ``magic IS NULL`` genuinely
    means unreadable content, so the fast path may reject on it without
    touching ``content``."""
    return raw.withColumn("reject_reason", _reject_reason(max_size_bytes, "magic" in raw.columns))


@column_memo
def _reject_reason(max_size_bytes: int, has_magic: bool) -> Column:
    if has_magic:
        magic_bad = F.col("magic").isNull() | ~F.col("magic").isin(list(VALID_MAGICS))
    else:
        magic_bad = F.col("content").isNull() | ~F.substring(
            F.col("content").cast("binary"), 1, 5
        ).isin(list(VALID_MAGICS))
    return (
        F.when(F.col("size_bytes") > max_size_bytes, "size_exceeds_limit")
        .when(magic_bad, "invalid_pdf")
        .when(F.col("n_pages") <= 0, "no_pages")
    )


@column_memo
def _reject_split() -> tuple[Column, Column, Column]:
    """(accepted, rejected) filters over a classify_rejects frame, and
    the status column of a reject row."""
    return (
        F.col("reject_reason").isNull(),
        F.col("reject_reason").isNotNull(),
        F.lit("error").alias("status"),
    )


@column_memo
def _reject_stubs(model_used: str, prompt_version: str) -> tuple[Column, ...]:
    """Results-shaped columns of a reject row (after its doc_id)."""
    return (
        F.col("size_bytes").alias("file_size"),
        F.lit("error").alias("status"),
        F.lit(model_used).alias("model_used"),
        F.lit(prompt_version).alias("prompt_version"),
        F.array(F.concat(F.lit("rejected: "), F.col("reject_reason"))).alias("warnings"),
    )


def extract_documents(
    raw: DataFrame,
    max_size_bytes: int = MAX_FILE_SIZE_BYTES,
    shard_size_bytes: int | None = None,
    shard_pages: int = SHARD_PAGES,
    presalted: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """documents_raw → (documents(doc_id, spans), rejects).

    ``presalted``: the input is already hash(doc_id)-spread (e.g. by
    render_documents_raw) — skip the per-branch salt so the content
    bytes are never shuffled a second time.
    """
    classified = classify_rejects(raw, max_size_bytes)
    accepted, rejected, error_status = _reject_split()
    rejects = classified.filter(rejected).select(
        "doc_id", "reject_reason", "size_bytes", error_status
    )
    ok = classified.filter(accepted).drop("reject_reason")
    sized = _extract_spans_sized(
        ok, effective_shard_size(max_size_bytes, shard_size_bytes), shard_pages, presalted
    )
    return sized.drop("size_bytes"), rejects


def _extract_spans_sized(
    ok: DataFrame, shard_size_bytes: int, shard_pages: int, presalted: bool
) -> DataFrame:
    """Kernel stage over validated docs → (doc_id, spans, size_bytes).
    size_bytes rides along so results assembly needs no join back to
    the raw table (a full-width shuffle at corpus scale).

    The salt — a uniform hash spread of docs over partitions, so a run
    of adjacent oversized policies cannot pile into one task — is
    applied per branch, AFTER the small/oversized split, unless
    ``presalted``. It is a repartition by expression only, so AQE
    coalesces each branch's exchange from its shuffle bytes: an empty
    oversized tail runs one Python task instead of
    spark.sql.shuffle.partitions, a small corpus runs as few kernel
    tasks as its bytes need, and each multi-MB giant still exceeds the
    coalescing target and keeps a partition of its own.

    Only PDF documents take the oversized shard path: page-range
    sharding keys on ``%%PAGE`` markers, a PDF concept. Oversized HTML
    documents stay in the fused kernel — one doc is one Arrow row
    (byte-bounded batching already caps batch memory), so a giant HTML
    page is a bounded straggler task, not a correctness or memory
    hazard; at corpus scale such documents are a vanishing tail of the
    interleaved mix."""
    small_if, big_if, salt_key, spans, content, shard, shard_key, lines = _kernel_columns(
        shard_size_bytes, shard_pages, "magic" in ok.columns
    )

    def salt(df: DataFrame) -> DataFrame:
        return df if presalted else df.repartition(salt_key)

    small_docs = salt(ok.filter(small_if)).select("doc_id", spans, "size_bytes")

    big = salt(ok.filter(big_if)).withColumn("content", content)
    shards = big.select("doc_id", "n_pages", "media", "size_bytes", shard)
    # CRITICAL: exploded shards land in the parent row's partition — one
    # giant doc's shards would tokenize serially in one task without
    # this spread (measured: sharding was net-negative before). Only the
    # oversized tail pays this extra chunked-bytes shuffle.
    shard_lines = shards.repartition(shard_key).select(
        "doc_id", "n_pages", "media", "size_bytes", lines
    )
    big_docs = shard_lines.groupBy("doc_id").applyInPandas(
        merge_sharded_lines, schema=DOCUMENTS_SIZED
    )
    return small_docs.unionByName(big_docs)


@column_memo
def _kernel_columns(
    shard_size_bytes: int, shard_pages: int, has_magic: bool
) -> tuple[Column, ...]:
    """Columns of :func:`_extract_spans_sized`: the small/oversized
    filters, the salt key, the fused kernel, the oversized branch's
    decoded content, its exploded shards, the shard salt key and the
    per-shard kernel."""
    if has_magic:
        is_pdf = F.col("magic") == F.lit(PDF_MAGIC)
    else:
        is_pdf = F.substring(F.col("content").cast("binary"), 1, 5) == F.lit(PDF_MAGIC)
    small_if = (F.col("size_bytes") <= shard_size_bytes) | ~is_pdf
    big_if = (F.col("size_bytes") > shard_size_bytes) & is_pdf
    spans = extract_spans_udf("content", "media", "n_pages").alias("spans")

    # filtered (compressed) oversized docs must be rewritten to plain
    # bytes BEFORE the %%PAGE marker scan and JVM-side slicing (see
    # decode_filters_udf); the contains() guard keeps plain-corpus
    # plans from ever invoking the UDF — and only the oversized tail
    # can pay this extra Arrow round trip at all
    content = F.when(
        F.contains(F.col("content"), F.lit(b"/Filter"))
        | F.contains(F.col("content"), F.lit(b"/ObjStm")),
        decode_filters_udf("content"),
    ).otherwise(F.col("content"))
    # offsets-only sharding: bytes cross Arrow into Python once (marker
    # scan), chunks are sliced JVM-side INSIDE the transform that feeds
    # the explode. Slicing before the Generate matters: exploding
    # offsets first and slicing after would copy the FULL content
    # binary into every shard row (n_shards × doc bytes — measured as
    # the dominant cost of the old chunk-carrying path).
    # pre_len > 0 (font documents) prepends the document preamble —
    # font/resource objects — to the chunk: concat of two JVM-side
    # slices, still zero Python round trips for the bytes. base_offset
    # shifts down by pre_len so re-based offsets stay exact (the
    # preamble emits no runs).
    chunk_structs = F.transform(
        shard_offsets_udf("content", F.lit(shard_pages)),
        lambda so: F.struct(
            so["shard_idx"].alias("shard_idx"),
            F.concat(
                F.substring(F.col("content"), F.lit(1), so["pre_len"].cast("int")),
                F.substring(
                    F.col("content"), (so["start"] + 1).cast("int"), so["length"].cast("int")
                ),
            ).alias("chunk"),
            (so["start"] - so["pre_len"]).alias("base_offset"),
            so["base_page"].alias("base_page"),
        ),
    )
    lines = shard_lines_udf("shard.chunk", "shard.base_offset", "shard.base_page").alias("lines")
    return (
        small_if,
        big_if,
        F.xxhash64("doc_id"),
        spans,
        content,
        F.explode(chunk_structs).alias("shard"),
        F.xxhash64("doc_id", "shard.shard_idx"),
        lines,
    )


@contextmanager
def materialized_source(raw: DataFrame, storage_level: StorageLevel | None = None):
    """Persist a COMPUTED source once so the extraction plan's three
    branch subtrees (small-doc / oversized / reject — see
    :func:`extract_results`) read one materialization instead of each
    re-executing the source.

    Catalyst pushes every branch filter below the salt exchange, which
    is the right plan over a pruned columnar scan but triples the
    source evaluation when the source is a UDF/join subtree (measured:
    the corpus-render stage ran 3x per action, ~35% of executor time;
    BENCH.md). ``MEMORY_AND_DISK`` keeps the materialized bytes
    spill-able — at cluster scale the per-executor cache is bounded by
    the executor's storage fraction, and a source too large to cache
    should be written to parquet and re-read instead (the
    extract_from_storage path), which also restores per-branch scan
    pruning.

    Usage::

        with materialized_source(render_documents_raw(reps)) as raw:
            extract_results(raw).write...

    The cache is dropped (non-blocking) on exit so repeated timed runs
    re-execute the source honestly."""
    level = storage_level if storage_level is not None else StorageLevel.MEMORY_AND_DISK
    persisted = raw.persist(level)
    try:
        yield persisted
    finally:
        persisted.unpersist(blocking=False)


def extract_results(
    raw: DataFrame,
    max_size_bytes: int = MAX_FILE_SIZE_BYTES,
    shard_size_bytes: int | None = None,
    shard_pages: int = SHARD_PAGES,
    model_used: str = DEFAULT_MODEL,
    prompt_version: str = "v1",
    presalted: bool = False,
) -> DataFrame:
    """Single-pass flagship plan: raw docs → ONE results DataFrame that
    contains successful/partial records AND reject stubs (the reference
    stores failed extractions in the same `extractions` table,
    app/services/storage.py:167-306).

    Scale shape (what the physical plan compiles to):

    - three branch scans of the source, each pruned: the small-doc
      branch carries ``size_bytes <= shard_threshold`` as a pushed
      parquet filter (reads ~the whole corpus — it IS the corpus); the
      oversized branch carries ``size_bytes > shard_threshold`` (row-
      group statistics skip ~everything); the reject branch reads only
      metadata-width columns (doc_id, size_bytes, n_pages, magic) —
      never ``content`` — when the source has a ``magic`` prefix
      column (see classify_rejects), so it costs ~nothing despite its
      CASE predicate being unpushable.
    - the salt exchange sits AFTER the split, one per extraction branch
      (see :func:`_extract_spans_sized`): each branch shuffles only ITS
      filtered subset, so the union's total shuffle volume is one
      corpus, and AQE coalesces each exchange from its shuffle bytes
      instead of pinning it at spark.sql.shuffle.partitions Python
      tasks. The reject branch is a pure map with no exchange.
    - one action for records + rejects — no second job over the corpus.

    ``presalted``: skip the per-branch salt when the source is already
    well-spread — a bucketed/multi-file parquet table read with
    ``files.maxPartitionBytes`` sizing gives balanced input splits, and
    re-shuffling the full byte payload (the job's single largest
    network cost) buys nothing. The kernel then runs one task per input
    split. Use salted mode when the layout is unknown or adversarial
    (few huge files, doc order correlated with size).

    COMPUTED (non-scan) sources: the per-branch pushdown above is only
    free when the source is a columnar scan (pruned columns / skipped
    row groups make the extra branch scans ~costless). When ``raw`` is
    itself a computed subtree — a decode/render UDF stage, a join, a
    prior pipeline's output that was never persisted — each branch
    RE-EXECUTES that subtree: stage-level measurement showed the
    corpus-render UDF running 3x inside one action (~40 of 114 core-s
    wasted; BENCH.md "computed-source triple evaluation"). Wrap such a
    source in :func:`materialized_source` so all branches read one
    materialization."""
    classified = classify_rejects(raw, max_size_bytes)
    accepted, rejected, _ = _reject_split()
    ok = classified.filter(accepted).drop("reject_reason")
    sized = _extract_spans_sized(
        ok, effective_shard_size(max_size_bytes, shard_size_bytes), shard_pages, presalted
    )
    results = build_results(sized, model_used=model_used, prompt_version=prompt_version)
    reject_stubs = classified.filter(rejected).select(
        "doc_id", *_reject_stubs(model_used, prompt_version)
    )
    return results.unionByName(reject_stubs, allowMissingColumns=True)


def build_results(
    documents: DataFrame,
    raw: DataFrame | None = None,
    model_used: str = DEFAULT_MODEL,
    prompt_version: str = "v1",
) -> DataFrame:
    """documents(doc_id, spans) → results rows mirroring the reference's
    extractions table (app/services/storage.py:29-54): 18-field record,
    validation errors/warnings, status, confidence scores, deterministic
    token/cost metrics."""
    rec = extract_fields(documents)
    for cols in _results_projections(model_used, prompt_version):
        rec = rec.select("*", *cols)
    if "size_bytes" in documents.columns:
        # size carried through the kernel stage — no join needed
        rec = rec.withColumnRenamed("size_bytes", "file_size")
    elif raw is not None:
        rec = rec.join(raw.select("doc_id", F.col("size_bytes").alias("file_size")), "doc_id", "left")
    return rec.drop(DOC_TEXT)


@column_memo
def _results_projections(model_used: str, prompt_version: str) -> tuple[tuple[Column, ...], ...]:
    fields = [F.col(f) for f in FIELD_NAMES]
    out_tok = (F.length(F.to_json(F.struct(*fields))) / 4).cast("long")
    # A9: count of extracted (non-sentinel) fields
    non_empty = F.size(
        F.filter(
            F.array(*[c.cast("string") for c in fields]),
            lambda v: v.isNotNull() & (v != EMPTY_VALUE) & (v != "[]"),
        )
    )
    # batched projections (withColumn chains cost serial driver seconds
    # re-analyzing this plan); second select for columns derived from
    # input/output_tokens so those evaluate once per row
    first = (
        confidence_map_expr(F.col(DOC_TEXT)).alias("confidence_scores"),
        token_count_expr(F.col(DOC_TEXT)).alias("input_tokens"),
        out_tok.alias("output_tokens"),
        F.lit(model_used).alias("model_used"),
        F.lit(prompt_version).alias("prompt_version"),
        # nested record mirroring the reference's extracted_data JSON
        # blob (native struct, app/services/storage.py:233-236)
        F.struct(*fields).alias("extracted_data"),
        # failed field names from the structured error messages
        # ("<field>: <message>"); cf. the reference's regex scrape F17
        F.array_distinct(
            F.transform(F.col("validation_errors"), lambda e: F.split(e, ":").getItem(0))
        ).alias("failed_fields"),
        non_empty.alias("extracted_fields"),
    )
    second = (
        (F.col("input_tokens") + F.col("output_tokens")).alias("total_tokens"),
        estimated_cost_expr("input_tokens", "output_tokens", model_used).alias("estimated_cost"),
    )
    return first, second
