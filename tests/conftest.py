from __future__ import annotations

import sys
from contextlib import contextmanager
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from insurance_pdf_extractor_spark.session import build_session

    s = build_session(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def session_conf(spark):
    """``with session_conf({key: value}):`` sets SQL confs for a block
    and restores the previous values (or unsets them) on exit."""

    @contextmanager
    def apply(conf: dict):
        old = {k: spark.conf.get(k, None) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    return apply


@pytest.fixture(scope="session")
def corpus_docs():
    from insurance_pdf_extractor_spark.corpus import generate_corpus

    return generate_corpus(120, seed=7)
