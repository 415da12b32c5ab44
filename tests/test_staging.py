"""One staging policy for stream and gate fixtures
(``streaming.staging_dir``): a staged copy is keyed on the resolved
corpus path and the stamp of its listing, so a different corpus or a
corpus rewritten in place is never served an old copy, and every root is
removed at interpreter exit."""

import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from big_data_elt_pipeline_spark.streaming import events as SE
from tests.conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _events_corpus(path, rows=None):
    """``path`` holding only the smoke ``events.parquet``, or its first
    ``rows`` rows."""
    os.makedirs(path, exist_ok=True)
    target = os.path.join(path, "events.parquet")
    if rows is None:
        shutil.copyfile(f"{SF_SMOKE}/events.parquet", target)
    else:
        pq.write_table(pq.read_table(f"{SF_SMOKE}/events.parquet").slice(0, rows), target)
    return path


@pytest.fixture
def few_partitions(spark):
    """Four shuffle partitions: the windowed stream keeps one state store
    per partition, and these corpora are tiny."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "4")
    yield
    spark.conf.set(key, old)


def test_same_basename_corpora_stream_their_own_events(spark, tmp_path, few_partitions):
    full = _events_corpus(str(tmp_path / "a" / "sfX"))
    subset = _events_corpus(str(tmp_path / "b" / "sfX"), rows=600)
    for sf in (full, subset):
        assert SE.stream_tumbling_evidence(spark, sf).first()["n_mismatch"] == 0


def test_rewritten_fixture_streams_new_rows(spark, tmp_path):
    sf = _events_corpus(str(tmp_path / "sfY"))
    shutil.copyfile(f"{SF_SMOKE}/customer.parquet", f"{sf}/customer.parquet")
    SE.stream_enriched_events(spark, sf).count()
    _events_corpus(sf, rows=600)
    ids = sorted(pq.read_table(f"{sf}/events.parquet")["event_id"].to_pylist())
    streamed = SE.stream_enriched_events(spark, sf).select("event_id").collect()
    assert sorted(r.event_id for r in streamed) == ids


def test_staged_roots_are_keyed_and_removed_at_exit(tmp_path):
    script = (
        "import os, sys\n"
        "from big_data_elt_pipeline_spark.streaming import staging_dir\n"
        "a, b = sys.argv[1:]\n"
        "root = staging_dir('t', a)\n"
        "open(os.path.join(root, 'copy'), 'w').close()\n"
        "assert staging_dir('t', a) == root\n"
        "assert staging_dir('t', b) != root\n"
        "open(os.path.join(a, 'new'), 'w').close()\n"
        "assert staging_dir('t', a) != root\n"
        "print(root)\n"
    )
    a, b = tmp_path / "a" / "sfX", tmp_path / "b" / "sfX"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    out = subprocess.run(
        [sys.executable, "-c", script, str(a), str(b)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    root = out.stdout.strip()
    assert root and not os.path.exists(root)
