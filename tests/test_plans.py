"""Replay every registry query against its DuckDB oracle at sf0.001 —
the local twin of the driver's CORRECTNESS gate (at sf0.01 use
SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01)."""

from __future__ import annotations

import glob
import os
import tempfile

import pytest

from crypto_msg_parser_spark.registry import all_queries
from tests.oracle_util import compare, duckdb_conn

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

QUERIES = all_queries()


@pytest.fixture(scope="module")
def con():
    c = duckdb_conn(SF)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, con):
    q = QUERIES[name]
    compare(q.spark_fn(spark, SF), con, q.oracle, name)


def test_paper_surface_rows_come_first():
    """Every parse and crawl row precedes the first other row, and the
    crawl streaming rows sit in the first 50, the driver's graded window."""
    paper = (
        "crypto_msg_parser_spark.parser.queries",
        "crypto_msg_parser_spark.crawl.queries",
    )
    mods = [q.module for q in QUERIES.values()]
    n_paper = sum(m in paper for m in mods)
    assert all(m in paper for m in mods[:n_paper])
    crawl_streaming = [
        i for i, q in enumerate(QUERIES.values()) if q.streaming and q.module == paper[1]
    ]
    assert crawl_streaming and max(crawl_streaming) < 50, crawl_streaming


def test_frontier_stream_resume_removes_its_temp_dirs(spark, con):
    """The streaming resume row returns a checkpointed frame, so its
    source, checkpoint and sink dirs go when it returns."""
    pattern = os.path.join(tempfile.gettempdir(), "resume_*")
    before = set(glob.glob(pattern))
    q = QUERIES["frontier_stream_resume"]
    compare(q.spark_fn(spark, SF), con, q.oracle, q.name)
    assert set(glob.glob(pattern)) - before == set()
