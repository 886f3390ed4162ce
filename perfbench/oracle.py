"""Expected outcomes and the checks that count failed documents.

Span sequences come from the independent mirrors in
``tools/make_fixtures.py`` (``expected_spans`` / ``expected_html_spans``),
never from the engine's own kernels. A document's outcome is its span
sequence ``(kind, text, media_ref)`` in order, its reject reason, or the
lineage counters of its bucket; a document fails when any differs.
"""

from __future__ import annotations

import sys
from pathlib import Path

from insurance_pdf_extractor_spark.oracle_xxh import xxh64_signed
from insurance_pdf_extractor_spark.sources import render as R

from .corpus import Doc, map_docs

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
import make_fixtures as _fx  # noqa: E402


def expected_outcome(doc: Doc):
    """``("rejected", reason)`` or ``("spans", [(kind, text, media_ref), ...])``."""
    if doc.reject_reason is not None:
        return ("rejected", doc.reject_reason)
    html = doc.kind == "html" or (
        doc.kind == "interleaved" and R.format_for_doc(doc.doc_id) == "html"
    )
    if html:
        spans = _fx.expected_html_spans(doc.doc_id, doc.text)
    else:
        enc = R.encoding_for_doc(doc.doc_id) if doc.kind == "interleaved" else None
        spans = _fx.expected_spans(doc.doc_id, doc.text, encoding=enc)
    return ("spans", [(k, t, m) for k, t, m, _off in spans])


def _expected_chunk(docs: list[Doc]):
    return [expected_outcome(d) for d in docs]


def expected_outcomes(docs: list[Doc], pool) -> dict:
    return {d.doc_id: e for d, e in zip(docs, map_docs(_expected_chunk, docs, pool))}


def span_key(spans) -> list[tuple]:
    """Engine span structs/dicts → comparable (kind, text, media_ref) list."""
    return [(s["kind"], s["text"], s["media_ref"]) for s in spans or []]


def results_outcome(spans, warnings):
    """Outcome of one ``extract_results`` row: reject stubs carry
    ``warnings = ["rejected: <reason>"]`` and no spans."""
    for w in warnings or []:
        if w.startswith("rejected: "):
            return ("rejected", w[len("rejected: ") :])
    return ("spans", span_key(spans))


def count_failed(expected: dict, actual: dict) -> tuple[int, list[str]]:
    """Documents whose actual outcome differs from the oracle. A document
    missing from ``actual`` fails; so does an unexpected extra one."""
    bad = [d for d, e in expected.items() if actual.get(d) != e]
    bad += [d for d in actual if d not in expected]
    return len(bad), bad


def bucket_of(doc_id: str, n_buckets: int) -> int:
    return xxh64_signed(doc_id) % n_buckets


def expected_lineage(expected: dict, n_buckets: int) -> dict[int, tuple[int, int, int]]:
    """Per-bucket ``(docs_processed, spans_emitted, docs_rejected)``."""
    out: dict[int, list[int]] = {b: [0, 0, 0] for b in range(n_buckets)}
    for doc_id, (what, val) in expected.items():
        row = out[bucket_of(doc_id, n_buckets)]
        if what == "rejected":
            row[2] += 1
        else:
            row[0] += 1
            row[1] += len(val)
    return {b: tuple(v) for b, v in out.items()}


def lineage_failures(
    expected: dict, lineage_rows: list[dict], n_buckets: int
) -> list[str]:
    """Documents in buckets whose checkpoint row is missing, duplicated or
    carries counters that differ from the oracle."""
    want = expected_lineage(expected, n_buckets)
    got: dict[int, list[tuple[int, int, int]]] = {}
    for r in lineage_rows:
        got.setdefault(int(r["partition_id"]), []).append(
            (int(r["docs_processed"]), int(r["spans_emitted"]), int(r["docs_rejected"]))
        )
    bad_buckets = {b for b in want if got.get(b) != [want[b]]}
    bad_buckets |= {b for b in got if b not in want}
    return [d for d in expected if bucket_of(d, n_buckets) in bad_buckets]
