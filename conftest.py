from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import SparkSession

# host-shared decoded-table cache (quickb_spark/query/serve_direct._shm_dir)
# gets a per-test-session dir: the /dev/shm default would otherwise leak
# entries across pytest sessions and into concurrent bench runs. Must be in
# os.environ BEFORE the JVM gateway starts (local[] workers inherit it).
_SHM_TEST_DIR = tempfile.mkdtemp(prefix="qkb_test_serve_shm_")
os.environ.setdefault("QKB_SERVE_SHM_DIR", _SHM_TEST_DIR)


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("quickb_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        .getOrCreate()
    )
    yield s
    s.stop()
    shutil.rmtree(_SHM_TEST_DIR, ignore_errors=True)


@pytest.fixture
def make_storage_unreachable(monkeypatch):
    """Returns a switch that simulates index storage pyarrow cannot reach:
    once called, listing segment (and lexicon) files fails, and the direct
    range tasks must not run. A Searcher opened after the switch has to
    fall back to the channel scorer on its own. Undone at test teardown."""
    from quickb_spark.index import p2_direct
    from quickb_spark.query import serve_direct

    def unreachable(*_a, **_kw):
        raise OSError("index storage is not reachable from pyarrow")

    def no_direct(*_a, **_kw):
        raise AssertionError("direct serving ran without a file listing")

    def switch():
        monkeypatch.setattr(p2_direct, "list_bucket_files", unreachable)
        monkeypatch.setattr(serve_direct, "serve_topk_direct", no_direct)

    return switch
