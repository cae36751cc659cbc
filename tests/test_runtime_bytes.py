"""Cluster-grade runtime byte counter (``inputMetrics.bytesRead``) next to
the metadata-planned accounting.

Two facts are proven, matching the module docstring's claims:
1. The counter itself measures full physical bytes on a read path that does
   not bypass FS statistics (CSV): runtime ≈ file size.
2. On the local parquet path, runtime stays ≤ planned for every ladder rung
   (footer-only under-report, the documented Spark 4 ``file://`` bypass) and
   is still > 0 — so on a cluster, where the bypass disappears, the same
   counter yields the measured-bytes observable the reference reports
   (``v1/src/main.rs:166-192``).
"""

from __future__ import annotations

import os
import shutil

import pytest

from parquet_near_storage_compute_spark.operators.scan_agg import LADDER
from parquet_near_storage_compute_spark.plans.metrics import (
    footer_bytes,
    measure_runtime_bytes,
)
from parquet_near_storage_compute_spark.tables import table_path

TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")
CSV_DIR = os.path.join(TMP, "runtime_bytes_csv")


def _dir_size(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


@pytest.fixture(scope="module")
def csv_copy(spark, sf_dir):
    df = spark.read.parquet(table_path(sf_dir, "lineitem")).select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    df.coalesce(2).write.mode("overwrite").option("header", True).csv(CSV_DIR)
    yield CSV_DIR
    shutil.rmtree(CSV_DIR, ignore_errors=True)


def test_counter_measures_full_csv_bytes(spark, csv_copy):
    schema = "l_orderkey bigint, l_quantity double, l_extendedprice double"
    read = measure_runtime_bytes(
        spark,
        lambda: spark.read.schema(schema)
        .option("header", True)
        .csv(csv_copy)
        .write.format("noop")
        .mode("overwrite")
        .save(),
    )
    size = _dir_size(csv_copy)
    assert 0.9 * size <= read <= 1.5 * size, (read, size)


def test_parquet_runtime_counter_invariants(spark, sf_dir):
    """Local parquet byte-counter semantics (measured, Spark 4.1 file://):
    selective scans report footer I/O only (the data-page bypass); the
    unfiltered rung additionally counts one 64 KiB buffered read. What holds
    on BOTH local and cluster: footer ≤ runtime ≤ file size + slack, and the
    fully-pruned rung never reads more than the unfiltered one. The planned
    accounting (``planned_scan_bytes``) stays the portable full-byte answer;
    this test pins the runtime counter against it at the endpoints."""
    path = table_path(sf_dir, "lineitem")
    floor = footer_bytes(path)
    by_rung = {}
    for rung in ("best_case", "p50", "worst"):
        threshold = LADDER[rung]
        by_rung[rung] = measure_runtime_bytes(
            spark,
            lambda: spark.read.parquet(path)
            .select("l_quantity")
            .filter(f"l_quantity > {threshold}")
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )
        # at least the footer, at most the file (+8-byte tail probe)
        assert floor - 4096 < by_rung[rung] <= os.path.getsize(path) + 4096, (
            rung,
            by_rung[rung],
        )
    assert by_rung["best_case"] <= by_rung["worst"]


def test_counter_survives_a_lagging_job_start(spark, csv_copy, monkeypatch):
    """The bytes returned the moment the action returns equal the group's
    bytes read after the listener bus has gone quiet, even when the first
    read of the group finds no job yet (its job-start event still queued).
    Reading the job ids once, up front, froze that read: 0 bytes."""
    import time

    from parquet_near_storage_compute_spark.plans.metrics import (
        _stages_input_bytes,
        group_stage_ids,
    )

    sc = spark.sparkContext
    groups: list[str] = []
    set_group = sc.setJobGroup
    real = sc.statusTracker()
    first_read = [True]

    class _LaggingTracker:
        def getJobIdsForGroup(self, group):
            if first_read[0]:
                first_read[0] = False
                return []
            return real.getJobIdsForGroup(group)

        def __getattr__(self, name):
            return getattr(real, name)

    monkeypatch.setattr(
        sc, "setJobGroup", lambda g, *a, **k: (groups.append(g), set_group(g, *a, **k))
    )
    monkeypatch.setattr(sc, "statusTracker", _LaggingTracker)
    schema = "l_orderkey bigint, l_quantity double, l_extendedprice double"
    read = measure_runtime_bytes(
        spark,
        lambda: spark.read.schema(schema)
        .option("header", True)
        .csv(csv_copy)
        .write.format("noop")
        .mode("overwrite")
        .save(),
    )
    monkeypatch.undo()
    assert not first_read[0]

    time.sleep(1.0)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    stage_ids, running = group_stage_ids(spark, groups[0])
    settled = _stages_input_bytes(spark, stage_ids)
    assert not running
    assert read == settled > 0
