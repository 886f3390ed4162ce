"""Seeded benchmark inputs: document texts, their rendered bytes, and the
parquet tables the workloads read.

Every ``doc_id`` starts with the seed, so each seed draws a different
per-document format/filter/structure/encoding matrix (the renderer picks
those from md5 bits of ``doc_id``). Rendering calls the same per-document
functions ``sources.render.render_documents_raw`` applies, so the stored
bytes equal what that Spark path would write.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from insurance_pdf_extractor_spark.constants import MAX_FILE_SIZE_BYTES, SHARD_FRAC
from insurance_pdf_extractor_spark.sources import render as R

CELLS = ("pdf_plain", "pdf_filtered", "pdf_differences", "pdf_cid", "html")

_VOCAB = (
    "coverage policy premium class code payroll rating schedule endorsement state "
    "experience modifier carrier underwriting broker agency terms conditions audit "
    "installment billing deposit renewal surcharge fund insured employer liability "
    "limit accident disease employee exclusion waiver subrogation commission taxes "
    "estimated minimum earned quote effective expiration address named additional"
).split()

MEDIA_TYPE = pa.list_(pa.struct([("media_ref", pa.string()), ("offset", pa.int32())]))
RAW_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("content", pa.binary()),
        ("media", MEDIA_TYPE),
        ("n_pages", pa.int32()),
        ("size_bytes", pa.int64()),
        ("magic", pa.binary()),
    ]
)

# resume_job giants: PDFs just under the size cap take the page-range
# shard path (shard threshold = cap * SHARD_FRAC); one PDF over the cap
# is rejected by size; one multi-MB HTML page is never sharded
SHARD_THRESHOLD = int(MAX_FILE_SIZE_BYTES * SHARD_FRAC)
GIANT_PDF_WORDS = 800_000       # ~9 MB rendered
OVERSIZE_BYTES = MAX_FILE_SIZE_BYTES + (1 << 20)
GIANT_HTML_WORDS = 200_000      # ~2.8 MB rendered


@dataclass
class Doc:
    doc_id: str
    text: str | None
    kind: str                   # "interleaved" | "plain" | "html" | "reject"
    reject_reason: str | None = None
    giant: bool = False


def doc_text(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_VOCAB) for _ in range(n_words))


def short_or_paged_words(rng: random.Random) -> int:
    """Most documents fit one page; one in six runs 2-3 pages, so the
    repeated title/footer lines reach the boilerplate rule."""
    if rng.random() < 1 / 6:
        return rng.randint(190, 520)
    return rng.randint(10, 99)


def cell_of(doc_id: str) -> str:
    """Format cell the interleaved renderer assigns to ``doc_id``."""
    if R.format_for_doc(doc_id) == "html":
        return "html"
    enc = R.encoding_for_doc(doc_id)
    if enc == "differences":
        return "pdf_differences"
    if enc == "cid":
        return "pdf_cid"
    return "pdf_filtered" if R.filters_for_doc(doc_id) else "pdf_plain"


def bulk_docs(seed: int, n: int) -> list[Doc]:
    rng = random.Random(f"bulk-{seed}")
    return [
        Doc(f"{seed}-b{i:06d}", doc_text(rng, short_or_paged_words(rng)), "interleaved")
        for i in range(n)
    ]


def resume_docs(seed: int, n_plain: int, n_giants: int) -> list[Doc]:
    """Plain PDFs, planted rejects (1% zero-page, 1% bad magic, one PDF
    over the size cap), ``n_giants`` PDFs between the shard threshold and the
    cap, and one multi-MB HTML page. Giants sit at the end of the table."""
    rng = random.Random(f"resume-{seed}")
    docs = []
    for i in range(n_plain):
        did = f"{seed}-r{i:06d}"
        if i % 100 == 37:
            docs.append(Doc(did, None, "reject", "no_pages"))
        elif i % 100 == 71:
            docs.append(Doc(did, None, "reject", "invalid_pdf"))
        else:
            docs.append(Doc(did, doc_text(rng, short_or_paged_words(rng)), "plain"))
    docs += [
        Doc(f"{seed}-g{g}", doc_text(rng, GIANT_PDF_WORDS), "plain", giant=True)
        for g in range(n_giants)
    ]
    docs.append(Doc(f"{seed}-h0", doc_text(rng, GIANT_HTML_WORDS), "html", giant=True))
    docs.append(Doc(f"{seed}-x0", None, "reject", "size_exceeds_limit", True))
    return docs


def render_doc(doc: Doc) -> tuple[bytes, int]:
    if doc.kind == "interleaved":
        out = R._render_interleaved_udf.func(pd.Series([doc.doc_id]), pd.Series([doc.text]))
        return bytes(out["content"][0]), int(out["n_pages"][0])
    if doc.kind == "html":
        return R.render_html(doc.doc_id, doc.text)
    if doc.reject_reason == "no_pages":
        return b"%PDF-1.4\n", 0
    if doc.reject_reason == "invalid_pdf":
        return b"GIF89a" + doc.doc_id.encode() * 8, 1
    if doc.reject_reason == "size_exceeds_limit":
        # never parsed: the size check rejects it first
        pad = b"%" + doc.doc_id.encode() + b"\n"
        return b"%PDF-1.4\n" + pad * (OVERSIZE_BYTES // len(pad)), 1
    return R.render_text(doc.doc_id, doc.text)


def _render_chunk(docs: list[Doc]) -> list[tuple[bytes, int]]:
    return [render_doc(d) for d in docs]


def chunks(items: list, n: int) -> list[list]:
    """Split ``items`` into ``n`` contiguous chunks (order kept)."""
    k, r = divmod(len(items), n)
    out, i = [], 0
    for j in range(n):
        step = k + (1 if j < r else 0)
        out.append(items[i : i + step])
        i += step
    return [c for c in out if c]


def map_docs(fn, docs: list[Doc], pool) -> list:
    """``fn`` (one chunk of documents → one result each) over ``pool``;
    big documents get a chunk of their own so the pool stays balanced.
    Results come back in document order."""
    small = [d for d in docs if not d.giant]
    parts = chunks(small, 16) + [[d] for d in docs if d.giant]
    by_id = {}
    for part, out in zip(parts, pool.map(fn, parts)):
        for d, r in zip(part, out):
            by_id[d.doc_id] = r
    return [by_id[d.doc_id] for d in docs]


def render_all(docs: list[Doc], pool) -> list[tuple[bytes, int]]:
    return map_docs(_render_chunk, docs, pool)


def write_raw(docs: list[Doc], rendered: list[tuple[bytes, int]], path: str) -> int:
    """documents_raw parquet (with the ``magic`` prefix column the render
    path writes); returns total content bytes."""
    contents = [c for c, _ in rendered]
    table = pa.table(
        {
            "doc_id": [d.doc_id for d in docs],
            "content": pa.array(contents, pa.binary()),
            "media": pa.array([[] for _ in docs], MEDIA_TYPE),
            "n_pages": pa.array([p for _, p in rendered], pa.int32()),
            "size_bytes": pa.array([len(c) for c in contents], pa.int64()),
            "magic": pa.array([c[:5] for c in contents], pa.binary()),
        },
        schema=RAW_SCHEMA,
    )
    pq.write_table(table, path)
    return sum(len(c) for c in contents)
