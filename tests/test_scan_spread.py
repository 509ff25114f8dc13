"""ensure_scan_parallelism (r17): conditional minimum scan
parallelism for CPU-heavy chains over byte-small inputs."""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_DIR
from wrf_to_geodataframe_spark.session import (
    _max_partition_bytes,
    ensure_scan_parallelism,
    load_table,
    sf_path,
)

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"testdata missing: {SF_DIR}"
)


def test_small_scan_is_spread(spark):
    """A byte-small table (far under one maxPartitionBytes split) gets
    an explicit hash repartition to defaultParallelism."""
    df = load_table(spark, SF_DIR, "documents")
    path = sf_path(SF_DIR, "documents")
    out = ensure_scan_parallelism(df, path, "doc_id")
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "RepartitionByExpression" in plan
    # the spread must not change the rows
    assert sorted(r.doc_id for r in out.select("doc_id").collect()) == sorted(
        r.doc_id for r in df.select("doc_id").collect()
    )


def test_large_scan_is_untouched(spark, monkeypatch):
    """When the driver-side estimate says the scan already yields at
    least defaultParallelism partitions (every archive-scale input),
    the helper is a strict no-op — no extra exchange at 100 TB."""
    import wrf_to_geodataframe_spark.session as S

    df = load_table(spark, SF_DIR, "documents")
    path = sf_path(SF_DIR, "documents")
    parallelism = spark.sparkContext.defaultParallelism
    big = parallelism * 128 * 1024 * 1024  # est >= defaultParallelism
    monkeypatch.setattr(S, "_dataset_bytes", lambda _p: big)
    out = ensure_scan_parallelism(df, path, "doc_id")
    assert out is df


def test_unknown_size_fails_open(spark, monkeypatch):
    """A path the driver cannot stat (s3://, OSError) must be treated
    as ARCHIVE-SCALE — strict no-op, never an extra full-corpus
    shuffle (ADVICE r17)."""
    df = load_table(spark, SF_DIR, "documents")
    out = ensure_scan_parallelism(
        df, "s3://bucket/never-statable/dataset.parquet", "doc_id"
    )
    assert out is df


def test_failed_stat_not_memoized():
    """A failed stat must not pin the unknown state for the process
    lifetime (ADVICE r17): nothing is cached for a missing path."""
    import wrf_to_geodataframe_spark.session as S

    missing = "/nonexistent/path/for/test.parquet"
    before = dict(S._SCAN_BYTES_CACHE)
    assert S._dataset_bytes(missing) == 0
    assert dict(S._SCAN_BYTES_CACHE) == before


def test_max_partition_bytes_conf_round_trip(spark):
    """The split size is read back through the JVM's own parser, so
    every size suffix Spark accepts means what it means to Spark — a
    digit-stripping parse would read '128m' as 128 BYTES and inflate
    the partition estimate ~1e6x (ADVICE r17)."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key, None)
    try:
        for raw, want in (("1p", 1024**5), ("128m", 128 * 1024**2), ("64b", 64)):
            spark.conf.set(key, raw)
            assert _max_partition_bytes(spark) == want, raw
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_max_partition_bytes_falls_back_to_128m():
    """A session whose conf the JVM cannot read gives the 128 MB default."""
    from types import SimpleNamespace

    assert _max_partition_bytes(SimpleNamespace(_jsparkSession=None)) == 128 * 1024**2


def test_estimate_is_driver_side(spark):
    """The byte estimate comes from os.stat, memoized — no Spark job
    (the construction-is-lazy contract)."""
    import wrf_to_geodataframe_spark.session as S

    path = sf_path(SF_DIR, "documents")
    S._SCAN_BYTES_CACHE.clear()
    store = spark.sparkContext._jsc.sc().statusStore()
    before = store.jobsList(None).size()
    n = S._dataset_bytes(path)
    assert n > 0
    assert os.path.exists(path)
    after = store.jobsList(None).size()
    assert after == before
