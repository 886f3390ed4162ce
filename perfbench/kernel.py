"""Kernel-layer probes, timed in the benchmark process.

Each public kernel function is called in pipeline order on a fixed sample
of the workload's own documents: filter decode, font parse, tokenize,
layout, boilerplate, assemble (PDF) or the HTML extractor (HTML), then
the fused ``extract_spans`` for the whole-kernel figure per format cell.
``tokenize_content`` calls the filter and font layers itself, so its
self time is its wall time minus theirs. Giants get the shard-path
probes: ``shard_spans`` offsets and ``merge_sharded_lines``.
"""

from __future__ import annotations

import statistics

import pandas as pd

from insurance_pdf_extractor_spark.constants import SHARD_PAGES
from insurance_pdf_extractor_spark.operators.assemble import (
    assemble_spans,
    extract_spans,
    merge_sharded_lines,
    shard_spans,
)
from insurance_pdf_extractor_spark.operators.boilerplate import strip_boilerplate
from insurance_pdf_extractor_spark.operators.filters import decode_content_filters
from insurance_pdf_extractor_spark.operators.fonts import parse_font_maps
from insurance_pdf_extractor_spark.operators.html import extract_html, sniff_format
from insurance_pdf_extractor_spark.operators.layout import layout_lines
from insurance_pdf_extractor_spark.operators.tokenize import tokenize_content

from .corpus import CELLS
from .spans import Spans


def _per(total_s: float, n: int) -> float:
    return total_s * 1e3 / n if n else 0.0


def probe_kernel(sample: list[tuple[str, bytes, int, str]], spans: Spans) -> dict:
    """``sample`` rows are (doc_id, content, n_pages, cell)."""
    t = dict.fromkeys(
        ("filters", "fonts", "tokenize", "html", "layout", "boilerplate", "assemble"), 0.0
    )
    n = dict.fromkeys(("filters", "fonts", "pdf", "html", "font_pdf"), 0)
    poisoned = 0
    pdf_bytes = html_bytes = filter_bytes = 0
    lines_in = lines_dropped = 0
    for doc_id, content, n_pages, _cell in sample:
        with spans.span("kernel.layers", doc_id):
            if sniff_format(content) == "html":
                n["html"] += 1
                html_bytes += len(content)
                with spans.span("html", doc_id) as s:
                    lines, media = extract_html(content)
                t["html"] += s.seconds
                with spans.span("assemble", doc_id) as s:
                    assemble_spans(lines, media)
                t["assemble"] += s.seconds
                continue
            n["pdf"] += 1
            pdf_bytes += len(content)
            decoded = content
            inner = 0.0
            if b"stream" in content and (b"/Filter" in content or b"/ObjStm" in content):
                n["filters"] += 1
                filter_bytes += len(content)
                with spans.span("filters", doc_id) as s:
                    try:
                        decoded = decode_content_filters(content)
                    except ValueError:
                        decoded = None
                        poisoned += 1
                t["filters"] += s.seconds
                inner += s.seconds
            if decoded is not None and b"/Font" in decoded:
                n["fonts"] += 1
                with spans.span("fonts", doc_id) as s:
                    try:
                        fonts = parse_font_maps(decoded.decode("latin-1"), content)
                    except ValueError:
                        fonts = None
                t["fonts"] += s.seconds
                inner += s.seconds
                n["font_pdf"] += bool(fonts)
            with spans.span("tokenize", doc_id) as s:
                runs = tokenize_content(content)
            t["tokenize"] += max(0.0, s.seconds - inner)
            with spans.span("layout", doc_id) as s:
                lines = layout_lines(runs)
            t["layout"] += s.seconds
            with spans.span("boilerplate", doc_id) as s:
                kept = strip_boilerplate(lines, n_pages)
            t["boilerplate"] += s.seconds
            lines_in += len(lines)
            lines_dropped += len(lines) - len(kept)
            with spans.span("assemble", doc_id) as s:
                assemble_spans(kept, [])
            t["assemble"] += s.seconds

    cell_t = dict.fromkeys(CELLS, 0.0)
    cell_n = dict.fromkeys(CELLS, 0)
    for doc_id, content, n_pages, cell in sample:
        with spans.span("kernel", doc_id) as s:
            extract_spans(content, [], n_pages)
        cell_t[cell] += s.seconds
        cell_n[cell] += 1

    tok_wall = t["tokenize"] + t["filters"] + t["fonts"]
    out = {
        "filters.ms_per_doc": _per(t["filters"], n["filters"]),
        "filters.mb_per_s": filter_bytes / 2**20 / t["filters"] if t["filters"] else 0.0,
        "filters.docs": n["filters"],
        "filters.poisoned": poisoned,
        "fonts.ms_per_doc": _per(t["fonts"], n["fonts"]),
        "fonts.docs": n["fonts"],
        "tokenize.self_ms_per_doc": _per(t["tokenize"], n["pdf"]),
        "tokenize.mb_per_s": pdf_bytes / 2**20 / tok_wall if tok_wall else 0.0,
        "tokenize.font_docs_frac": n["font_pdf"] / n["pdf"] if n["pdf"] else 0.0,
        "html.ms_per_doc": _per(t["html"], n["html"]),
        "html.mb_per_s": html_bytes / 2**20 / t["html"] if t["html"] else 0.0,
        "layout.ms_per_doc": _per(t["layout"], n["pdf"]),
        "boilerplate.ms_per_doc": _per(t["boilerplate"], n["pdf"]),
        "boilerplate.dropped_frac": lines_dropped / lines_in if lines_in else 0.0,
        "assemble.ms_per_doc": _per(t["assemble"], n["pdf"] + n["html"]),
    }
    for c in CELLS:
        out[f"kernel.{c}.ms_per_doc"] = _per(cell_t[c], cell_n[c])
    out["kernel.ms_per_doc"] = _per(sum(cell_t.values()), len(sample))
    # self time per layer over the whole sample (ms), for the ledger
    out["_self_ms"] = {k: v * 1e3 for k, v in t.items()}
    out["_cell_ms"] = {c: v * 1e3 for c, v in cell_t.items()}
    return out


def probe_giants(giants: list[tuple[str, bytes, int, str]], spans: Spans) -> dict:
    """Shard-path probes on the first PDF over the shard threshold; the
    HTML extractor on HTML giants (those are never sharded)."""
    offsets_ms, merge_ms, n_shards, html_s = [], [], [], []
    html = [g for g in giants if g[3] == "html"]
    pdfs = [g for g in giants if g[3] != "html"][:1]
    for doc_id, content, n_pages, cell in html + pdfs:
        if cell == "html":
            with spans.span("html.giant", doc_id) as s:
                extract_html(content)
            html_s.append(s.seconds)
            continue
        with spans.span("shard.offsets", doc_id) as s:
            offs = shard_spans(content, SHARD_PAGES)
        offsets_ms.append(s.seconds * 1e3)
        n_shards.append(len(offs))
        rows = []
        for _i, start, length, _bp, pre in offs:
            chunk = content[:pre] + content[start : start + length]
            lines = layout_lines(tokenize_content(chunk))
            base = start - pre
            rows.append(
                {
                    "pages": [p for p, _o, _t in lines],
                    "offs": [o + base for _p, o, _t in lines],
                    "texts": [x for _p, _o, x in lines],
                }
            )
        group = pd.DataFrame(
            {
                "doc_id": [doc_id] * len(rows),
                "n_pages": [n_pages] * len(rows),
                "media": [None] * len(rows),
                "size_bytes": [len(content)] * len(rows),
                "lines": rows,
            }
        )
        with spans.span("shard.merge", doc_id) as s:
            merge_sharded_lines(group)
        merge_ms.append(s.seconds * 1e3)
    med = statistics.median
    return {
        "shard.offsets_ms": med(offsets_ms) if offsets_ms else 0.0,
        "shard.merge_ms": med(merge_ms) if merge_ms else 0.0,
        "shard.shards_per_giant": statistics.mean(n_shards) if n_shards else 0.0,
        "html.giant_s": max(html_s) if html_s else 0.0,
    }
