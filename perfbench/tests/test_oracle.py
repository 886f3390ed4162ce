"""Output checks: the oracle agrees with the kernel on clean inputs, and
every kind of corrupted outcome is counted as a failed document."""

from __future__ import annotations

import copy

from insurance_pdf_extractor_spark.operators.assemble import extract_spans

from perfbench import corpus as C
from perfbench.oracle import (
    count_failed,
    expected_lineage,
    expected_outcomes,
    lineage_failures,
    results_outcome,
    span_key,
)


class SerialPool:
    map = staticmethod(lambda f, xs: list(map(f, xs)))


def _bulk(n=60, seed=5):
    docs = C.bulk_docs(seed, n)
    rendered = C.render_all(docs, SerialPool)
    return docs, rendered, expected_outcomes(docs, SerialPool)


def test_kernel_matches_oracle_on_every_cell():
    docs, rendered, expected = _bulk()
    assert {C.cell_of(d.doc_id) for d in docs} == set(C.CELLS)
    actual = {
        d.doc_id: ("spans", span_key(extract_spans(content, [], n_pages)))
        for d, (content, n_pages) in zip(docs, rendered)
    }
    assert count_failed(expected, actual) == (0, [])


def test_corrupted_outcomes_are_counted():
    _docs, _rendered, expected = _bulk()
    ids = sorted(expected)
    actual = copy.deepcopy(expected)
    kind, spans = actual[ids[0]]
    spans[0] = (spans[0][0], spans[0][1] + "x", spans[0][2])   # wrong text
    actual[ids[1]] = ("spans", actual[ids[1]][1][::-1])         # wrong order
    actual[ids[2]] = ("rejected", "invalid_pdf")                # spurious reject
    del actual[ids[3]]                                           # missing
    actual["stray"] = ("spans", [])                              # unexpected extra
    failed, bad = count_failed(expected, actual)
    assert failed == 5
    assert set(bad) == {*ids[:4], "stray"}


def test_reject_stub_outcome_and_wrong_reason():
    assert results_outcome(None, ["rejected: no_pages"]) == ("rejected", "no_pages")
    expected = {"a": ("rejected", "no_pages"), "b": ("rejected", "size_exceeds_limit")}
    actual = {"a": ("rejected", "no_pages"), "b": ("rejected", "invalid_pdf")}
    assert count_failed(expected, actual) == (1, ["b"])


def test_lineage_counter_mismatch_fails_the_bucket():
    docs = C.resume_docs(7, 300, 0)
    docs = [d for d in docs if not d.giant]
    expected = expected_outcomes(docs, SerialPool)
    want = expected_lineage(expected, 8)
    rows = [
        {"partition_id": b, "docs_processed": n, "spans_emitted": s, "docs_rejected": r}
        for b, (n, s, r) in want.items()
    ]
    assert sum(r for _n, _s, r in want.values()) == sum(d.reject_reason is not None for d in docs)
    assert lineage_failures(expected, rows, 8) == []
    rows[3] = dict(rows[3], spans_emitted=rows[3]["spans_emitted"] + 1)
    bad = lineage_failures(expected, rows, 8)
    assert bad and len(bad) == want[3][0] + want[3][2]
    assert len(lineage_failures(expected, rows[:-1], 8)) > len(bad)  # missing row


def _write_job(job_dir, expected, n_buckets, run_id):
    """Parquet outputs of a checkpointed job whose results equal the oracle."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fields = ("kind", "text", "media_ref")
    span_t = pa.list_(pa.struct([(f, pa.string()) for f in fields]))
    docs = {d: v for d, (what, v) in expected.items() if what == "spans"}
    rejects = {d: v for d, (what, v) in expected.items() if what == "rejected"}
    lineage = expected_lineage(expected, n_buckets)
    tables = {
        "documents": pa.table({
            "doc_id": list(docs),
            "spans": pa.array([[dict(zip(fields, s)) for s in v] for v in docs.values()], span_t),
        }),
        "rejects": pa.table({"doc_id": list(rejects), "reject_reason": list(rejects.values())}),
        "checkpoint": pa.table({
            "run_id": [run_id] * n_buckets,
            "partition_id": list(range(n_buckets)),
            "docs_processed": [lineage[b][0] for b in range(n_buckets)],
            "spans_emitted": [lineage[b][1] for b in range(n_buckets)],
            "docs_rejected": [lineage[b][2] for b in range(n_buckets)],
        }),
    }
    for sub, table in tables.items():
        (job_dir / sub).mkdir(parents=True)
        pq.write_table(table, str(job_dir / sub / "part-0.parquet"))


def test_job_that_did_not_run_in_two_legs_fails_every_document(tmp_path):
    from perfbench.run import check_resume

    docs = [d for d in C.resume_docs(7, 200, 0) if not d.giant]
    expected = expected_outcomes(docs, SerialPool)
    _write_job(tmp_path, expected, 8, "bench-0")
    spec = {"n_buckets": 8, "limit_buckets": 4}

    def child(leg1, leg2):
        legs = [{"stats": {"buckets_completed": n}} for n in (leg1, leg2)]
        return {"jobs": [{"dir": str(tmp_path), "legs": legs}]}

    ok = check_resume(child(4, 4), spec, {"expected": expected})
    assert (ok["attempted"], ok["failed"]) == (len(docs), 0)
    # the first leg ignored its bucket limit, so the second had nothing to resume
    bad = check_resume(child(8, 0), spec, {"expected": expected})
    assert bad["failed"] == len(docs)
