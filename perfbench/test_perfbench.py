"""Tests of the benchmark's own parts: the seeded request streams, the
job-group counter reader, and the summary helpers.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys
import time
from itertools import islice

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from reqgen import FACT, FACT_HI, FACT_LO, contract_passes, scan_passes  # noqa: E402
from run import percentile  # noqa: E402
from spans import JobGroupCounters, _union_ms  # noqa: E402
from workloads import COLD_BUILD  # noqa: E402


def _scan(seed: int, passes: int = 3):
    return list(islice(scan_passes(seed), passes))


def test_scan_stream_is_a_function_of_the_seed():
    assert _scan(7) == _scan(7)
    assert _scan(7) != _scan(8)


def test_contract_order_is_a_function_of_the_seed():
    def order(seed):
        return list(islice(contract_passes(seed, COLD_BUILD), 3))

    assert order(7) == order(7)
    assert order(7) != order(8)
    assert all(sorted(p) == sorted(COLD_BUILD) for p in order(7))


def test_every_scan_pass_spans_the_fact_range_with_the_same_shapes():
    def shape(req):
        return (len(req.conjuncts), len(req.columns), len(req.aggs))

    span = FACT_HI - FACT_LO
    for batch in _scan(3) + _scan(4):
        tenths = sorted(int((r.conjuncts[0][2] - FACT_LO) / span * 10) for r in batch)
        assert tenths == list(range(10))
        assert sorted(map(shape, batch)) == sorted(map(shape, _scan(5, 1)[0]))
        for req in batch:
            assert req.columns[0] == FACT
            assert all(col == FACT for col, _, _ in req.conjuncts)


def test_tail_percentile_leaves_ten_samples_beyond_at_the_minimum_count():
    from run import MIN_REQUESTS, TAIL_PCT

    samples = [float(i) for i in range(1, MIN_REQUESTS + 1)]
    assert percentile(samples, TAIL_PCT) == (MIN_REQUESTS - 10.0, 10)
    assert percentile(samples, 50.0) == (MIN_REQUESTS / 2, MIN_REQUESTS / 2)


def test_union_of_job_spans_counts_overlap_once():
    assert _union_ms([(0, 10), (5, 20), (30, 35)]) == 25


@pytest.fixture(scope="module")
def spark():
    from parquet_near_storage_compute_spark.session import get_spark

    s = get_spark(
        app_name="perfbench-tests",
        master="local[2]",
        conf={
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": "3",
        },
    )
    yield s
    s.stop()


def test_counts_read_after_the_action_match_counts_after_the_bus_drains(spark):
    """A job of known shape: 4 scan tasks feeding a 3-partition shuffle.
    The reader, called the moment the action returns, must already see
    what a reader sees once the listener bus has long gone quiet."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    counters = JobGroupCounters(spark)
    sc.setJobGroup("perfbench-test", "known shape")
    try:
        spark.range(0, 10_000, 1, 4).groupBy(F.col("id") % 7).count().collect()
    finally:
        sc._jsc.clearJobGroup()
    first = counters.read(["perfbench-test"])

    time.sleep(1.0)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    settled = counters.snapshot(["perfbench-test"])

    keys = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes")
    assert {k: first[k] for k in keys} == {k: settled[k] for k in keys}
    assert (first["jobs"], first["stages"], first["tasks"]) == (1, 2, 7)
    assert first["shuffle_write_bytes"] == first["shuffle_read_bytes"] > 0
    assert first["exec_ms"] > 0
