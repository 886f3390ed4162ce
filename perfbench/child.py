"""One workload in a fresh JVM: ``python3 -m perfbench.child SPEC OUT``.

The parent spawns this process, so "process start" is the parent's
clock just before the spawn. Steps:

1. ``session.build_session`` at package defaults (plus the event log
   when traced), then the warm-up action (see ``_warm_up``). Its end
   closes ``setup_s``: JVM start, Python worker spawn and codegen.
2. The timed window, with the process-tree sampler running: extract
   actions writing their results to parquet (checked afterwards) or
   two-leg checkpointed jobs, repeated until ``seconds`` have passed.
3. Traced runs only: wall time of the plan-builder calls.

SPEC and OUT are JSON files.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from .procfs import TreeSampler, loadavg
from .spans import Spans


def _warm_up(spark, spec: dict) -> None:
    """The action that closes ``setup_s``. ``bulk_interleaved`` runs its
    own plan over the corpus's first documents, so its timed actions find
    the plan compiled. A ``resume_job`` job cannot be warmed short of a
    whole extra job (one job is all a run's time allows), so it runs the
    kernel UDF over a few rows and its job is timed from cold."""
    from insurance_pdf_extractor_spark.operators.assemble import extract_spans_udf
    from insurance_pdf_extractor_spark.plans.pipeline import extract_results

    warm = spark.read.parquet(spec["warm"])
    if spec["workload"] == "bulk_interleaved":
        extract_results(warm).write.format("noop").mode("overwrite").save()
    else:
        warm.limit(8).select(extract_spans_udf("content", "media", "n_pages")).collect()


def _tag(spark, spec: dict, group: str) -> None:
    if spec["trace"]:
        spark.sparkContext.setJobGroup(group, group)


def _bulk(spark, spec: dict, spans: Spans, out: dict) -> None:
    from insurance_pdf_extractor_spark.plans.pipeline import extract_results

    corpus = spec["corpus"]
    actions = []
    sampler = TreeSampler(os.getpid())
    out["loadavg_before"] = loadavg()
    sampler.start()
    w0 = time.time()
    while time.time() - w0 < spec["seconds"]:
        k = len(actions)
        dest = os.path.join(spec["work"], f"action-{k}")
        _tag(spark, spec, f"action-{k}")
        with spans.span("action", f"action-{k}") as act:
            with spans.span("plan.build", f"action-{k}") as build:
                df = extract_results(spark.read.parquet(corpus))
            with spans.span("execute", f"action-{k}"):
                df.write.parquet(dest)
        actions.append(
            {"group": f"action-{k}", "dir": dest, "wall_s": act.seconds, "build_s": build.seconds}
        )
    out["window"] = sampler.stop() | {"wall_s": time.time() - w0}
    out["loadavg_after"] = loadavg()
    out["actions"] = actions
    if spec["trace"]:
        from insurance_pdf_extractor_spark.operators.fields import extract_fields

        docs = spark.read.parquet(actions[0]["dir"]).select("doc_id", "spans")
        out["fields_build_ms"] = _build_ms(spans, "fields.build", lambda: extract_fields(docs))


def _resume(spark, spec: dict, spans: Spans, out: dict) -> None:
    corpus = spec["corpus"]
    jobs = []
    sampler = TreeSampler(os.getpid())
    out["loadavg_before"] = loadavg()
    sampler.start()
    w0 = time.time()
    while time.time() - w0 < spec["seconds"]:
        k = len(jobs)
        jobs.append(_job(spark, spec, spans, corpus, os.path.join(spec["work"], f"job{k}"), k))
    out["window"] = sampler.stop() | {"wall_s": time.time() - w0}
    out["loadavg_after"] = loadavg()
    out["jobs"] = jobs
    if spec["trace"]:
        from insurance_pdf_extractor_spark.operators.fields import extract_fields
        from insurance_pdf_extractor_spark.plans.pipeline import extract_documents

        out["plan_build_ms"] = _build_ms(
            spans, "plan.build", lambda: extract_documents(spark.read.parquet(corpus))
        )
        docs = spark.read.parquet(os.path.join(jobs[0]["dir"], "documents")).select("doc_id", "spans")
        out["fields_build_ms"] = _build_ms(spans, "fields.build", lambda: extract_fields(docs))


def _job(spark, spec: dict, spans: Spans, source: str, job_dir: str, k: int) -> dict:
    """One checkpointed job in two legs: the first stops after
    ``limit_buckets`` buckets, the second resumes the same run id."""
    from insurance_pdf_extractor_spark.plans.checkpoint import run_extract_job

    legs = []
    with spans.span("job", f"job-{k}") as job:
        for leg, limit in (("leg1", spec["limit_buckets"]), ("resume", None)):
            _tag(spark, spec, f"job-{k}-{leg}")
            with spans.span(f"checkpoint.{leg}", f"job-{k}") as s:
                stats = run_extract_job(
                    spark.read.parquet(source),
                    job_dir,
                    run_id=f"bench-{k}",
                    n_buckets=spec["n_buckets"],
                    source_files=[source],
                    _limit_buckets=limit,
                )
            legs.append({"group": f"job-{k}-{leg}", "wall_s": s.seconds, "stats": stats})
    return {"dir": job_dir, "wall_s": job.seconds, "legs": legs}


def _build_ms(spans: Spans, name: str, build, repeats: int = 3) -> float:
    """Median wall time of a plan-builder call (no action runs)."""
    times = []
    for i in range(repeats):
        with spans.span(name, f"build-{i}") as s:
            build()
        times.append(s.seconds * 1e3)
    return statistics.median(times)


def main(spec_path: str, out_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    spans = Spans(spec["trace"])
    out: dict = {}
    from insurance_pdf_extractor_spark.session import build_session

    extra = None
    if spec["trace"]:
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + spec["eventlog_dir"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    with spans.span("setup", "setup"):
        spark = build_session(app_name=f"perfbench-{spec['workload']}", extra_conf=extra)
        _tag(spark, spec, "warm-up")
        _warm_up(spark, spec)
    out["setup_end"] = time.time()
    try:
        if spec["workload"] == "bulk_interleaved":
            _bulk(spark, spec, spans, out)
        else:
            _resume(spark, spec, spans, out)
        out["app_id"] = spark.sparkContext.applicationId
    finally:
        spark.stop()
    out["spans"] = spans.rows
    with open(out_path, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
