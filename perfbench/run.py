#!/usr/bin/env python3
"""Extraction-engine benchmark.

    python3 perfbench/run.py --workload bulk_interleaved --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads:

- ``bulk_interleaved``: ``plans/pipeline.extract_results`` actions over a
  stored parquet corpus of interleaved HTML and PDF documents (filters x
  structure x font encoding), each writing its results to parquet.
- ``resume_job``: ``plans/checkpoint.run_extract_job`` (the
  ``jobs/extract.py`` path) in two legs: the first stops after half the
  buckets, the second resumes the same run id. Plain PDFs with planted
  rejects, PDFs just under the size cap (shard path), one over it, and a
  multi-MB HTML page.

Each workload runs in a fresh JVM subprocess at ``local[nproc]`` with
package-default session settings. Outputs are checked against the
independent span mirrors of ``tools/make_fixtures.py`` outside the timed
window. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs an
untraced and an event-logged child and prints the per-layer ledger. The
last stdout line is one JSON object; a fuller report (loadavg before and
after the window, other JVMs seen, per-action figures, the largest
self-time layer) and the trace spans go to ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

WORKLOADS = ("bulk_interleaved", "resume_job")
BULK_DOCS = 3000
RESUME_PLAIN = 1000
RESUME_GIANTS = 2
N_BUCKETS = 8
KERNEL_SAMPLE = 600
WARM_DOCS = 256
RUN_LIMIT_S = 175.0


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _stop_group(pgid: int) -> None:
    """Stop every process left in the child's process group and wait
    until none is running."""
    from perfbench.procfs import group_members

    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not group_members(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.time() + wait_s
        while time.time() < end and group_members(pgid):
            time.sleep(0.1)


def run_child(spec: dict, work: Path, name: str, deadline: float) -> dict:
    spec_path, out_path = work / f"{name}.spec.json", work / f"{name}.out.json"
    spec_path.write_text(json.dumps(spec))
    nproc = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(exist_ok=True)
    env = dict(
        os.environ,
        PYTHONPATH=str(ROOT) + os.pathsep + os.environ.get("PYTHONPATH", ""),
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_LOCAL_DIRS=str(tmp),
        TMPDIR=str(tmp),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    with open(work / f"{name}.log", "wb") as logf:
        t_spawn = time.time()
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.child", str(spec_path), str(out_path)],
            cwd=ROOT,
            env=env,
            stdout=logf,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _stop_group(proc.pid)
            proc.wait()
    if rc != 0:
        tail = (work / f"{name}.log").read_text(errors="replace")[-3000:]
        raise RuntimeError(f"child {name} failed (rc={rc}):\n{tail}")
    out = json.loads(out_path.read_text())
    out["setup_s"] = out["setup_end"] - t_spawn
    return out


# ---------------------------------------------------------------------------
# inputs and checks
# ---------------------------------------------------------------------------


def build_inputs(workload: str, seed: int, work: Path, pool) -> dict:
    from perfbench import corpus as C
    from perfbench.oracle import expected_outcomes

    if workload == "bulk_interleaved":
        docs = C.bulk_docs(seed, BULK_DOCS)
    else:
        docs = C.resume_docs(seed, RESUME_PLAIN, RESUME_GIANTS)
    rendered = C.render_all(docs, pool)
    path = work / "corpus.parquet"
    total_bytes = C.write_raw(docs, rendered, str(path))
    C.write_raw(docs[:WARM_DOCS], rendered[:WARM_DOCS], str(work / "warm.parquet"))
    for d, (content, _p) in zip(docs, rendered):
        if d.giant and d.reject_reason is None and d.kind == "plain":
            assert C.SHARD_THRESHOLD < len(content) <= C.MAX_FILE_SIZE_BYTES, len(content)
        if d.reject_reason == "size_exceeds_limit":
            assert len(content) > C.MAX_FILE_SIZE_BYTES, len(content)
    expected = expected_outcomes(docs, pool)
    cells = {}
    for d, (content, _p) in zip(docs, rendered):
        if d.reject_reason is not None:
            continue
        cells[d.doc_id] = "html" if d.kind == "html" else (
            C.cell_of(d.doc_id) if d.kind == "interleaved" else "pdf_plain"
        )
    shares = {c: sum(v == c for v in cells.values()) / len(docs) for c in C.CELLS}
    sample = [
        (d.doc_id, content, p, cells[d.doc_id])
        for d, (content, p) in zip(docs, rendered)
        if not d.giant and d.reject_reason is None
    ][:KERNEL_SAMPLE]
    giants = [
        (d.doc_id, content, p, cells[d.doc_id])
        for d, (content, p) in zip(docs, rendered)
        if d.giant and d.reject_reason is None
    ]
    # documents the fused kernel UDF sees: accepted ones, minus PDFs that
    # take the shard path
    kernel_docs = sum(
        1
        for d, (content, _p) in zip(docs, rendered)
        if d.reject_reason is None
        and not (cells[d.doc_id] != "html" and len(content) > C.SHARD_THRESHOLD)
    )
    return {
        "path": str(path),
        "warm": str(work / "warm.parquet"),
        "expected": expected,
        "props": {
            "corpus.docs": len(docs),
            "corpus.mb": total_bytes / 2**20,
            **{f"corpus.share.{c}": shares[c] for c in C.CELLS},
            "corpus.giants": sum(d.giant for d in docs),
            "corpus.rejects": sum(d.reject_reason is not None for d in docs),
        },
        "sample": sample,
        "giants": giants,
        "kernel_docs": kernel_docs,
    }


def check_bulk(child: dict, spec: dict, inputs: dict) -> dict:
    import pyarrow.parquet as pq

    from perfbench.oracle import count_failed, results_outcome

    expected = inputs["expected"]
    attempted = failed = 0
    bad_all, recorded = [], []
    for action in child["actions"]:
        t = pq.read_table(action["dir"], columns=["doc_id", "spans", "warnings"]).to_pydict()
        recorded.append(len(t["doc_id"]))
        actual = {}
        for d, s, w in zip(t["doc_id"], t["spans"], t["warnings"]):
            actual[d] = ("duplicate",) if d in actual else results_outcome(s, w)
        n_failed, bad = count_failed(expected, actual)
        attempted += len(expected)
        failed += n_failed
        bad_all += bad[:20]
    return {"attempted": attempted, "failed": failed, "bad": bad_all[:20], "recorded": recorded}


def check_resume(child: dict, spec: dict, inputs: dict) -> dict:
    """Outputs, per-run lineage and the two-leg shape of each job. A job
    whose legs did not split its buckets as asked fails every document:
    its resume path was not the one measured."""
    import pyarrow.parquet as pq

    from perfbench.oracle import bucket_of, count_failed, lineage_failures, span_key

    expected = inputs["expected"]
    n_buckets = spec["n_buckets"]
    live = len({bucket_of(d, n_buckets) for d in expected})
    first = min(spec["limit_buckets"], live)
    want_legs = [first, live - first]
    attempted = failed = 0
    bad_all, recorded = [], []
    for k, job in enumerate(child["jobs"]):
        d = Path(job["dir"])
        actual: dict = {}
        n_rows = 0
        for sub, cols in (("documents", ["doc_id", "spans"]), ("rejects", ["doc_id", "reject_reason"])):
            files = [str(f) for f in sorted((d / sub).rglob("*.parquet"))]
            if not files:
                continue
            t = pq.read_table(files, columns=cols).to_pydict()
            n_rows += len(t["doc_id"])
            for i, doc_id in enumerate(t["doc_id"]):
                val = ("spans", span_key(t["spans"][i])) if sub == "documents" else ("rejected", t["reject_reason"][i])
                actual[doc_id] = ("duplicate",) if doc_id in actual else val
        _n, bad = count_failed(expected, actual)
        ck = pq.read_table(d / "checkpoint").to_pylist()
        ck = [r for r in ck if r["run_id"] == f"bench-{k}"]
        bad = set(bad) | set(lineage_failures(expected, ck, n_buckets))
        if [leg["stats"]["buckets_completed"] for leg in job["legs"]] != want_legs:
            bad |= set(expected)
        attempted += len(expected)
        failed += len(bad)
        bad_all += sorted(bad)[:20]
        recorded.append(n_rows)
    return {"attempted": attempted, "failed": failed, "bad": bad_all[:20], "recorded": recorded}


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def e2e_metrics(workload: str, child: dict, check: dict) -> dict:
    if workload == "bulk_interleaved":
        walls = [a["wall_s"] for a in child["actions"]]
    else:
        walls = [j["wall_s"] for j in child["jobs"]]
    rates = [n / w for n, w in zip(check["recorded"], walls)]
    timed_docs = sum(check["recorded"])
    win = child["window"]
    return {
        "docs_per_s": statistics.median(rates),
        "cpu_ms_per_doc": win["cpu_s"] * 1e3 / timed_docs,
        "process.peak_pss_mb": win["peak_rss_mb"],
        "process.median_pss_mb": win["median_rss_mb"],
        "setup_s": child["setup_s"],
        "_samples": len(rates),
        "_rates": rates,
    }


def _column_bytes(path: str) -> dict[str, int]:
    """Compressed bytes per top-level column of a parquet file: what a
    scan reading those columns must fetch."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    out: dict[str, int] = {}
    for rg in range(md.num_row_groups):
        for c in range(md.num_columns):
            col = md.row_group(rg).column(c)
            top = col.path_in_schema.split(".")[0]
            out[top] = out.get(top, 0) + col.total_compressed_size
    return out


def layer_metrics(workload: str, traced: dict, inputs: dict, work: Path) -> tuple[dict, dict]:
    """Per-layer metrics from the event log of the traced child, plus the
    ledger of self time per layer used to name the largest one."""
    from perfbench import eventlog as E

    logs = [p for p in (work / "eventlog").iterdir() if traced["app_id"] in p.name]
    ev = E.parse(str(logs[0]))
    med = statistics.median
    if workload == "bulk_interleaved":
        units = [[a["group"]] for a in traced["actions"]]
        plan_build_ms = med(a["build_s"] for a in traced["actions"]) * 1e3
    else:
        units = [[leg["group"] for leg in job["legs"]] for job in traced["jobs"]]
        plan_build_ms = traced["plan_build_ms"]
    corpus_cols = _column_bytes(inputs["path"])
    source = Path(inputs["path"]).name

    def scan_bytes(sc: dict) -> float:
        if sc["location"].endswith(source):
            return sum(corpus_cols.get(c, 0) for c in sc["columns"])
        return sc["files_bytes"]

    per_unit = []
    for groups in units:
        ms = [E.group_metrics(ev, g, source, scan_bytes) for g in groups]
        u = {
            k: sum(m[k] for m in ms)
            for k in ("jobs", "stages", "tasks", "failed_tasks", "task_wait_s", "kernel_python_s", "kernel_python_init_s", "kernel_rows")
        }
        u["kernel_task_skew"] = max(m["kernel_task_skew"] for m in ms)
        for key in ("run_s", "scan_mb", "shuffle_write_mb"):
            u[key] = {}
            for m in ms:
                for layer, v in m[key].items():
                    u[key][layer] = u[key].get(layer, 0.0) + v
        per_unit.append(u)

    # the checkpoint layer acts on resume_job only; elsewhere it reads 0
    per_job = []
    for job in traced.get("jobs", []):
        groups = [leg["group"] for leg in job["legs"]]
        walls: dict = {}
        for g in groups:
            for layer, v in E.execution_walls(ev, g).items():
                walls[layer] = walls.get(layer, 0.0) + v
        readback = sum(scan_bytes(sc) for g in groups for sc in E.execution_scans(ev, g, "lineage"))
        per_job.append(
            {
                "walls": walls,
                "leg1_s": job["legs"][0]["wall_s"],
                "resume_s": job["legs"][1]["wall_s"],
                "readback_mb": readback / 2**20,
                "jobs": sum(j.group in groups for j in ev.jobs.values()),
            }
        )

    def m_of(f):
        return med(f(u) for u in per_unit)

    out = {
        "plan.build_ms": plan_build_ms,
        "fields.build_ms": traced["fields_build_ms"],
        "plan.jobs": m_of(lambda u: u["jobs"]),
        "plan.stages": m_of(lambda u: u["stages"]),
        "plan.tasks": m_of(lambda u: u["tasks"]),
        "spark.failed_tasks": m_of(lambda u: u["failed_tasks"]),
        "spark.task_wait_s": m_of(lambda u: u["task_wait_s"]),
        "stage.scan.input_mb": m_of(lambda u: u["scan_mb"].get("scan", 0.0)),
        "stage.reject.input_mb": m_of(lambda u: u["scan_mb"].get("reject", 0.0)),
        "stage.salt.shuffle_write_mb": m_of(
            lambda u: sum(u["shuffle_write_mb"].get(k, 0.0) for k in ("salt", "reject"))
        ),
        "stage.salt.run_s": m_of(lambda u: u["run_s"].get("salt", 0.0) + u["run_s"].get("reject", 0.0)),
        "stage.kernel.run_s": m_of(lambda u: u["run_s"].get("kernel", 0.0)),
        "stage.kernel.python_s": m_of(lambda u: u["kernel_python_s"]),
        "stage.kernel.python_init_s": m_of(lambda u: u["kernel_python_init_s"]),
        "stage.kernel.task_skew": m_of(lambda u: u["kernel_task_skew"]),
        # one traced unit is one action (bulk) or one two-leg job, whose
        # legs together route every accepted small document once
        "stage.kernel.evals_per_doc": m_of(lambda u: u["kernel_rows"]) / inputs["kernel_docs"],
        "stage.shard.run_s": m_of(lambda u: u["run_s"].get("shard", 0.0)),
    }

    def j_of(f):
        return med(f(p) for p in per_job) if per_job else 0.0

    out |= {
        "checkpoint.leg1_s": j_of(lambda p: p["leg1_s"]),
        "checkpoint.resume_s": j_of(lambda p: p["resume_s"]),
        "checkpoint.docs_write_s": j_of(lambda p: p["walls"].get("docs_write", 0.0)),
        "checkpoint.rejects_write_s": j_of(lambda p: p["walls"].get("rejects_write", 0.0)),
        "checkpoint.lineage_s": j_of(lambda p: p["walls"].get("lineage", 0.0)),
        "checkpoint.readback_mb": j_of(lambda p: p["readback_mb"]),
        "checkpoint.jobs": j_of(lambda p: p["jobs"]),
    }
    # self time per layer (seconds per action or job): executor time of
    # each stage layer, plan build in the Python process, and for the job the wall of
    # its checkpoint sub-layers
    u0 = per_unit[len(per_unit) // 2]
    ledger = {f"spark.{k}": v for k, v in u0["run_s"].items()}
    ledger["python.plan_build"] = plan_build_ms / 1e3
    if per_job:
        ledger |= {f"checkpoint.{k}": v for k, v in per_job[len(per_job) // 2]["walls"].items()}
    return out, ledger


def trace_metrics(
    workload: str, dps_plain: float, traced: dict, inputs: dict, work: Path, pt: dict
) -> tuple[dict, dict]:
    from perfbench.kernel import probe_giants, probe_kernel
    from perfbench.spans import Spans

    spans = Spans(True)
    t0 = time.time()
    kern = probe_kernel(inputs["sample"], spans) | probe_giants(inputs["giants"], spans)
    t1 = time.time()
    layers, ledger = layer_metrics(workload, traced, inputs, work)
    t2 = time.time()
    traced_e2e = e2e_metrics(workload, traced, pt)
    metrics = {k: v for k, v in kern.items() if not k.startswith("_")}
    metrics |= layers | inputs["props"]
    metrics["process.peak_pss_mb"] = traced_e2e["process.peak_pss_mb"]
    metrics["process.median_pss_mb"] = traced_e2e["process.median_pss_mb"]
    metrics["trace.overhead_frac"] = (dps_plain - traced_e2e["docs_per_s"]) / dps_plain
    kernel_self = {f"kernel.{k}": v / 1e3 / len(inputs["sample"]) for k, v in kern["_self_ms"].items()}
    busy = {k: v for k, v in ledger.items() if not k.startswith("checkpoint.")}
    walls = {k: v for k, v in ledger.items() if k.startswith("checkpoint.")}
    report = {
        "ledger_s_per_unit": ledger,
        "largest_self_time": max(busy, key=busy.get),
        "largest_checkpoint_layer": max(walls, key=walls.get) if walls else None,
        "kernel_self_s_per_doc": kernel_self,
        "largest_kernel_layer": max(kernel_self, key=kernel_self.get),
        "kernel_cell_ms_total": kern["_cell_ms"],
        "largest_kernel_cell": max(kern["_cell_ms"], key=kern["_cell_ms"].get),
        "trace_spans": len(traced.get("spans", [])) + len(spans.rows),
        "probes_s": t1 - t0,
        "eventlog_s": t2 - t1,
    }
    (work.parent / f"spans-{work.name}.json").write_text(
        json.dumps({"child": traced.get("spans", []), "kernel_probes": spans.rows})
    )
    return metrics, report


# ---------------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S

    try:
        import insurance_pdf_extractor_spark  # noqa: F401

        from perfbench import oracle  # noqa: F401  (needs tools/make_fixtures.py)
        from perfbench.procfs import java_pids, loadavg
    except ImportError as ex:
        log(f"cannot import the engine or the span oracle: {ex}; run from the repository root")
        return 2

    # the metrics printed are exactly those BENCHMARK.json declares
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = bench["per_layer" if args.trace else "end_to_end"]

    others = java_pids()
    if others:
        log(f"WARNING: {len(others)} other JVM(s) running {others}; this run is marked contended")

    base = ROOT / ".perfbench"
    work = base / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "eventlog").mkdir(parents=True)
    try:
        pool = multiprocessing.get_context("fork").Pool(min(4, len(os.sched_getaffinity(0))))
        try:
            inputs = build_inputs(args.workload, args.seed, work, pool)
        finally:
            pool.close()
            pool.join()
        phase_s = {"inputs": time.time() - t_start}
        log(f"inputs ready in {phase_s['inputs']:.1f}s: {inputs['props']}")
        spec = {
            "workload": args.workload,
            "corpus": inputs["path"],
            "warm": inputs["warm"],
            "seconds": args.seconds,
            "trace": False,
            "work": str(work / "plain"),
            "eventlog_dir": str(work / "eventlog"),
            "n_buckets": N_BUCKETS,
            "limit_buckets": N_BUCKETS // 2,
        }
        check = check_bulk if args.workload == "bulk_interleaved" else check_resume
        t0 = time.time()
        plain = run_child(spec, work, "plain", deadline)
        checks = [check(plain, spec, inputs)]
        phase_s["plain"] = time.time() - t0
        metrics = e2e_metrics(args.workload, plain, checks[0])
        report = {
            "loadavg": {"before": plain["loadavg_before"], "after": plain["loadavg_after"]},
            "samples": metrics.pop("_samples"),
            "docs_per_s_each": metrics.pop("_rates"),
        }
        if args.trace:
            # the untraced child above, same seed and code, is the
            # baseline of trace.overhead_frac
            tspec = dict(spec, trace=True, work=str(work / "traced"))
            t0 = time.time()
            traced = run_child(tspec, work, "traced", deadline)
            checks.append(check(traced, tspec, inputs))
            phase_s["traced"] = time.time() - t0
            metrics, trace_report = trace_metrics(
                args.workload, metrics["docs_per_s"], traced, inputs, work, checks[1]
            )
            report |= trace_report
            report["loadavg_traced"] = {"before": traced["loadavg_before"], "after": traced["loadavg_after"]}
        attempted = sum(c["attempted"] for c in checks)
        failed = sum(c["failed"] for c in checks)
        report |= {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "other_jvms": others,
            "loadavg_end": loadavg(),
            "failed_frac": failed / attempted,
            "failed_docs": [c["bad"] for c in checks],
            "phase_s": phase_s,
            "run_wall_s": time.time() - t_start,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]} for m in declared
        },
    }
    (base / f"report-{work.name}.json").write_text(json.dumps(report | {"result": result}, indent=1))
    if report.get("largest_self_time"):
        log(f"largest self time: {report['largest_self_time']}; kernel: {report['largest_kernel_layer']}, cell {report['largest_kernel_cell']}")
    log(f"run took {report['run_wall_s']:.1f}s")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
