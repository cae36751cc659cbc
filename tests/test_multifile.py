"""Multi-file table layout (the reference's numbered-file model,
``v1/src/main.rs:119-131``): directory scans, per-file row-group pruning in
the byte accounting, and result equivalence to the single-file layout."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from parquet_near_storage_compute_spark.operators.scan_agg import LADDER
from parquet_near_storage_compute_spark.plans.metrics import planned_scan_bytes
from parquet_near_storage_compute_spark.tables import load_table

TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")
MULTI = os.path.join(TMP, "lineitem_multi")


@pytest.fixture(scope="module")
def multi_dir(spark):
    li = load_table(spark, "/root/testdata/sf0.01", "lineitem")
    li.repartition(4).write.mode("overwrite").parquet(MULTI)
    yield MULTI
    shutil.rmtree(MULTI, ignore_errors=True)


def test_directory_scan_equals_single_file(spark, multi_dir):
    single = load_table(spark, "/root/testdata/sf0.01", "lineitem")
    multi = spark.read.parquet(multi_dir)
    s = single.agg(F.sum("l_extendedprice"), F.count(F.lit(1))).collect()[0]
    m = multi.agg(F.sum("l_extendedprice"), F.count(F.lit(1))).collect()[0]
    assert s[1] == m[1]
    assert abs(s[0] - m[0]) < 1e-4


def test_per_file_pruning_accounting(multi_dir):
    """v2's accounting generalizes per file: best-case threshold keeps only
    footers across all files; worst case reads every chunk."""
    files = sorted(glob.glob(os.path.join(multi_dir, "part-*.parquet")))
    assert len(files) == 4
    col = ["l_extendedprice"]
    best = sum(
        planned_scan_bytes(f, col, [("l_extendedprice", ">", LADDER["best_case"])])
        for f in files
    )
    worst = sum(
        planned_scan_bytes(f, col, [("l_extendedprice", ">", LADDER["worst"])])
        for f in files
    )
    assert best < worst
    # each file contributes footer-only bytes in the best case
    from parquet_near_storage_compute_spark.plans.metrics import footer_bytes

    assert best == sum(footer_bytes(f) for f in files)


def test_partition_count_tracks_files(spark, multi_dir):
    multi = spark.read.parquet(multi_dir)
    assert multi.rdd.getNumPartitions() >= 1
    assert len(multi.inputFiles()) == 4


# --- table resolution: once per session, fingerprint-checked -------------


def _jobs_started(spark, fn):
    """(fn(), number of Spark jobs fn started), read from the status
    tracker once the listener bus has delivered every job-start event."""
    import uuid

    sc = spark.sparkContext
    group = f"resolve-{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, "table resolution test")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_table(sf_dir, name: str, ids: list[int]) -> None:
    """A table as a directory of one part file, rewritten in place."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(str(sf_dir), f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    pq.write_table(
        pa.table({"k": ids, "v": [float(i) / 2 for i in ids]}),
        os.path.join(d, "part-0.parquet"),
    )


def _keys(df) -> list[int]:
    return sorted(r.k for r in df.collect())


def test_second_load_starts_no_job(spark, tmp_path):
    _write_table(tmp_path, "t", [1, 2, 3])

    def load():
        return load_table(spark, str(tmp_path), "t")

    first, jobs_first = _jobs_started(spark, load)
    second, jobs_second = _jobs_started(spark, load)
    assert jobs_first >= 1  # listing + footer schema inference
    assert jobs_second == 0
    assert second.schema == first.schema
    assert _keys(second) == [1, 2, 3]


def test_in_place_rewrite_resolves_again(spark, tmp_path):
    _write_table(tmp_path, "t", [1, 2, 3])
    assert _keys(load_table(spark, str(tmp_path), "t")) == [1, 2, 3]
    _write_table(tmp_path, "t", [10, 20, 30, 40])
    assert _keys(load_table(spark, str(tmp_path), "t")) == [10, 20, 30, 40]


def test_new_session_gets_its_own_relation(spark, tmp_path):
    _write_table(tmp_path, "t", [1, 2, 3])
    load_table(spark, str(tmp_path), "t")
    child = spark.newSession()
    df, jobs = _jobs_started(child, lambda: load_table(child, str(tmp_path), "t"))
    assert jobs >= 1
    assert df.sparkSession is child
    assert _keys(df) == [1, 2, 3]


def test_missing_path_raises_every_call_and_is_never_cached(spark, tmp_path):
    from pyspark.errors import AnalysisException

    from parquet_near_storage_compute_spark import tables

    for _ in range(2):
        with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
            load_table(spark, str(tmp_path), "t")
    real = os.path.realpath(tables.table_path(str(tmp_path), "t"))
    assert not [k for k in tables._RESOLVED if k[2] == real]
    _write_table(tmp_path, "t", [7])
    assert _keys(load_table(spark, str(tmp_path), "t")) == [7]


def test_glob_path_bypasses_the_cache(spark, tmp_path):
    from parquet_near_storage_compute_spark import tables
    from parquet_near_storage_compute_spark.sources.io import read_parquet

    _write_table(tmp_path, "t", [1, 2])
    pattern = os.path.join(str(tmp_path), "t.parquet", "*.parquet")
    for _ in range(2):
        df, jobs = _jobs_started(spark, lambda: read_parquet(spark, pattern))
        assert jobs >= 1
        assert _keys(df) == [1, 2]
    assert not [k for k in tables._RESOLVED if "*" in k[2]]


def test_two_loads_of_one_table_join_like_two_tables(spark, tmp_path):
    """Each load is a new instance of the cached relation, so a non-equi
    self-join of two loads resolves (one shared DataFrame would make
    ``a.k < b.k`` ambiguous)."""
    _write_table(tmp_path, "t", [1, 2, 3])
    a = load_table(spark, str(tmp_path), "t")
    b = load_table(spark, str(tmp_path), "t")
    assert a.join(b, a.k < b.k).count() == 3


def test_concurrent_loads_share_the_cache_safely(spark, tmp_path, monkeypatch):
    """More threads than cores load three tables through a cache of two
    entries, so hits, inserts and evictions interleave: every load must
    return its own table."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from parquet_near_storage_compute_spark import tables

    for i in range(3):
        _write_table(tmp_path, f"t{i}", list(range(i + 1)))
    monkeypatch.setattr(tables, "_RESOLVED_CAP", 2)

    def load(n: int) -> tuple[int, list[str]]:
        i = n % 3
        return i, load_table(spark, str(tmp_path), f"t{i}").inputFiles()

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [pool.submit(load, n) for n in range(120)]
            results = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert all(
        len(files) == 1 and f"/t{i}.parquet/" in files[0] for i, files in results
    )
    assert len(tables._RESOLVED) <= 2
    for i in range(3):
        assert _keys(load_table(spark, str(tmp_path), f"t{i}")) == list(range(i + 1))
