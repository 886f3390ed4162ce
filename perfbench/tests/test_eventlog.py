"""Event-log parsing and layer attribution on a tiny traced action."""

from __future__ import annotations

import glob

import pytest

from perfbench import corpus as C
from perfbench import eventlog as E


class SerialPool:
    map = staticmethod(lambda f, xs: list(map(f, xs)))


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    from insurance_pdf_extractor_spark.plans.pipeline import extract_results
    from insurance_pdf_extractor_spark.session import build_session

    tmp = tmp_path_factory.mktemp("traced")
    docs = C.bulk_docs(9, 16)
    path = tmp / "corpus.parquet"
    C.write_raw(docs, C.render_all(docs, SerialPool), str(path))
    (tmp / "ev").mkdir()
    spark = build_session(
        app_name="perfbench-test",
        master="local[2]",
        shuffle_partitions=4,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{tmp / 'ev'}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    try:
        spark.sparkContext.setJobGroup("action-0", "action-0")
        extract_results(spark.read.parquet(str(path))).write.format("noop").mode("overwrite").save()
        spark.sparkContext.setJobGroup("other", "other")
        spark.range(10).count()
    finally:
        spark.stop()
    return E.parse(glob.glob(str(tmp / "ev" / "*"))[0]), len(docs)


def test_action_attributed_to_layers(traced):
    log, n_docs = traced
    m = E.group_metrics(log, "action-0", "corpus.parquet", lambda sc: 2**20 * len(sc["columns"]))
    assert m["jobs"] >= 1 and m["tasks"] >= m["stages"] >= 1
    assert m["failed_tasks"] == 0
    assert {"kernel", "salt"} <= set(m["run_s"])
    # the kernel UDF saw every document once
    assert m["kernel_rows"] == n_docs
    assert m["kernel_python_s"] > 0
    # the reject branch scans metadata columns only, the data branches content
    assert m["scan_mb"]["reject"] > 0 and m["scan_mb"]["scan"] > m["scan_mb"]["reject"]
    other = E.group_metrics(log, "other", "corpus.parquet", lambda sc: 0)
    assert other["jobs"] >= 1 and "kernel" not in other["run_s"]


def test_checkpoint_execution_layers():
    def x(plan, details=""):
        return E.Execution(0, details=details, plan=plan)

    write = "== Physical Plan ==\n...\n(42) Execute InsertIntoHadoopFsRelationCommand\nInput: []\nArguments: file:/w/job0/{}, false, Parquet\n"
    assert E.execution_layer(x(write.format("documents"))) == "docs_write"
    assert E.execution_layer(x(write.format("rejects"))) == "rejects_write"
    assert E.execution_layer(x(write.format("checkpoint"))) == "lineage"
    assert E.execution_layer(x("CollectLimit", "org.apache.spark.sql.classic.Dataset.count(x)")) == "lineage"
    assert E.execution_layer(x("CollectLimit", "org.apache.spark.sql.classic.Dataset.isEmpty(x)")) == "resume"
