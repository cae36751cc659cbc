"""Near-storage observables: byte accounting + the M1-M7 metric set.

The reference's thesis metric is bytes-that-must-move vs selectivity. v2
computes it *from metadata alone*: fetch the footer (seek -8, read
``metadata_len`` — ``v1/src/main.rs:325-385``), prune row groups on min/max
(``v2/src/main.rs:527-641``), and count the surviving column-chunk ranges
plus the footer (``v2/src/main.rs:400-503``). ``planned_scan_bytes`` is the
same accounting over the same Parquet metadata — deterministic, and exactly
what Spark's vectorized reader will fetch for a scan with the given
projection + pushed predicate (modulo read-coalescing padding, which the
reference's ``merge_chunks`` also has).

Why not ONLY runtime counters: Spark 4's Parquet reader on ``file://``
bypasses the Hadoop FileSystem statistics for data pages (only footer I/O
is counted), so physical-byte counters under-report locally. On a cluster
the same numbers surface as ``inputMetrics.bytesRead``; the planned-bytes
curve is the portable observable. The cluster-grade counter nevertheless
exists here too — ``runtime_input_bytes`` sums ``inputMetrics.bytesRead``
across stages from the app status store (what a ``SparkListener`` on
``onTaskEnd`` accumulates, v1's measured-bytes observable,
``v1/src/main.rs:166-192``) — and ``tests/test_runtime_bytes.py`` proves it
counts full physical bytes on the non-bypassed path (CSV) and footer I/O on
the local parquet path.

Metric set (``v1/src/main.rs:158-192``): M1 bytes read · M2 total time ·
M3 total throughput · M4 logical throughput · M5 selectivity % · M6
relative metrics · M7 warm-up exclusion (bench.py excludes warm-up runs).
"""

from __future__ import annotations

import os
import struct
import time
from dataclasses import dataclass

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession


def footer_bytes(path: str) -> int:
    """Footer length: trailing 8 bytes are [metadata_len:u32][PAR1]
    (the reference's footer fetch, ``v1/src/main.rs:325-385``)."""
    with open(path, "rb") as fh:
        fh.seek(-8, os.SEEK_END)
        tail = fh.read(8)
    if tail[4:] != b"PAR1":
        raise ValueError(f"{path}: not a parquet file")
    (meta_len,) = struct.unpack("<I", tail[:4])
    return meta_len + 8


#: Compact-stats prefix width (F8): the reference's shipped stats keep only
#: an 8-byte prefix for ByteArray columns (``v2/src/main.rs:338-398``).
STAT_PREFIX_BYTES = 8


def utf8_stat_prefix(raw: bytes, n: int = STAT_PREFIX_BYTES) -> str:
    """F8 — UTF-8 prefix decode (``v2/src/main.rs:931-936``): take the
    fixed n-byte stat prefix, strict-decode and trim trailing NUL padding
    when it is valid UTF-8, otherwise decode lossily (replacement chars) —
    byte-for-byte the reference's ``bytes_to_string``. A multibyte
    character straddling the cut therefore surfaces as U+FFFD, exactly as
    the reference renders it."""
    prefix = raw[:n]
    try:
        return prefix.decode("utf-8").rstrip("\x00")
    except UnicodeDecodeError:
        return prefix.decode("utf-8", errors="replace")


def string_stat_prefixes(path: str) -> dict[str, dict[str, str]]:
    """Per string/binary column: file-level min/max rendered through the
    F8 prefix rule — the human-readable form of the compact stats the
    reference ships to the compute node. Metadata-only (no data pages)."""
    md = pq.ParquetFile(path).metadata
    out: dict[str, dict[str, str]] = {}
    for rg in range(md.num_row_groups):
        grp = md.row_group(rg)
        for i in range(grp.num_columns):
            col = grp.column(i)
            if col.physical_type != "BYTE_ARRAY" or col.statistics is None:
                continue
            st = col.statistics
            if not st.has_min_max:
                continue
            mn, mx = st.min_raw, st.max_raw
            cur = out.get(col.path_in_schema)
            if cur is None:
                out[col.path_in_schema] = {"raw_min": mn, "raw_max": mx}
            else:
                cur["raw_min"] = min(cur["raw_min"], mn)
                cur["raw_max"] = max(cur["raw_max"], mx)
    return {
        c: {
            "min_prefix": utf8_stat_prefix(v["raw_min"]),
            "max_prefix": utf8_stat_prefix(v["raw_max"]),
        }
        for c, v in out.items()
    }


def planned_scan_bytes(
    path: str,
    columns: list[str] | None = None,
    predicate: list[tuple[str, str, float]] | None = None,
) -> int:
    """Bytes a selective scan must move: footer + surviving column chunks.

    ``predicate`` is a conjunction of (column, op, literal) — the same
    comparison set as the reference (``Comparison``, ``v1/src/main.rs:418-438``).
    A row group survives unless its min/max statistics prove no row can match
    (``keep_row_group``, ``v1/src/main.rs:626-685``).
    """
    meta = pq.ParquetFile(path).metadata
    names = [meta.schema.column(i).name for i in range(meta.num_columns)]
    col_idx = {n: i for i, n in enumerate(names)}
    wanted = set(columns) if columns is not None else set(names)

    total = footer_bytes(path)
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        keep = True
        for col, op, lit in predicate or []:
            stats = group.column(col_idx[col]).statistics
            if stats is None or not stats.has_min_max:
                continue  # no stats → cannot prune (same as the reference)
            lo, hi = stats.min, stats.max
            # prune iff the predicate is false for the whole [lo, hi] range
            if op == ">" and not hi > lit:
                keep = False
            elif op == ">=" and not hi >= lit:
                keep = False
            elif op == "<" and not lo < lit:
                keep = False
            elif op == "<=" and not lo <= lit:
                keep = False
            elif op == "==" and not (lo <= lit <= hi):
                keep = False
        if not keep:
            continue
        for name in wanted:
            total += group.column(col_idx[name]).total_compressed_size
    return total


def runtime_input_bytes(spark: SparkSession) -> int:
    """Total ``inputMetrics.bytesRead`` accumulated across all stages so far
    — the runtime counterpart of ``planned_scan_bytes`` (a SparkListener's
    ``onTaskEnd`` view, read from the same app-status store the UI uses).

    Take a snapshot before and after an action and diff; pair with
    ``wait_for_metrics`` because stage metrics land on the async listener
    bus. Local caveat (documented in the module docstring): the parquet
    vectorized reader on ``file://`` reports footer I/O only; CSV/JSON/text
    report full physical bytes; on a cluster all paths report fully.

    Two scope limits (ADVICE r2): (1) the store retains only
    ``spark.ui.retainedStages`` stages (default 1000) — in a long-lived
    session evicted stages leave the total, so a before/after diff can
    shrink; ``measure_runtime_bytes`` clamps at 0 and is intended for
    short-lived measurement sessions (a monotonic per-app counter needs a
    JVM-side SparkListener, which py4j can't register without the callback
    server). (2) the Scala ``$default$`` accessors for ``stageList``'s
    optional args are version-pinned to Spark 4's signature.
    """
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    # AppStatusStore.stageList(statuses, details, withSummaries, quantiles,
    # taskStatus) — empty lists mean "no filter"; fetch Scala default args
    # via their synthesized accessors so only the first arg is pinned.
    stages = store.stageList(
        sc._jvm.java.util.ArrayList(),
        getattr(store, "stageList$default$2")(),
        getattr(store, "stageList$default$3")(),
        getattr(store, "stageList$default$4")(),
        getattr(store, "stageList$default$5")(),
    )
    total = 0
    it = stages.iterator()
    while it.hasNext():
        total += it.next().inputBytes()
    return total


def wait_for_metrics(spark: SparkSession, timeout_s: float = 5.0) -> None:
    """Wait until the async status-listener bus has drained: no active
    jobs per the status tracker, then two consecutive stable readings of
    the input-bytes total (a single stable pair can be a transient while
    task-end events are still in flight — ADVICE r2)."""
    sc = spark.sparkContext
    deadline = time.perf_counter() + timeout_s
    while time.perf_counter() < deadline and sc.statusTracker().getActiveJobsIds():
        time.sleep(0.1)
    stable = 0
    prev = runtime_input_bytes(spark)
    while time.perf_counter() < deadline:
        time.sleep(0.2)
        cur = runtime_input_bytes(spark)
        stable = stable + 1 if cur == prev else 0
        if stable >= 2:
            return
        prev = cur


def _stages_input_bytes(spark: SparkSession, stage_ids: set[int]) -> int:
    """Sum ``inputMetrics.bytesRead`` over exactly the given stages (all
    attempts). Bounded py4j traffic: O(len(stage_ids)), independent of how
    many stages the session has retained."""
    store = spark.sparkContext._jsc.sc().statusStore()
    total = 0
    for sid in stage_ids:
        # AppStatusStore.stageData(stageId, details, taskStatus,
        # withSummaries, unsortedQuantiles) — fetch Scala default args via
        # their synthesized accessors so only the first arg is pinned.
        attempts = store.stageData(
            int(sid),
            getattr(store, "stageData$default$2")(),
            getattr(store, "stageData$default$3")(),
            getattr(store, "stageData$default$4")(),
            getattr(store, "stageData$default$5")(),
        )
        it = attempts.iterator()
        while it.hasNext():
            total += it.next().inputBytes()
    return total


def measure_runtime_bytes(spark: SparkSession, action) -> int:
    """Run ``action()`` and return the physical bytes its stages read.

    r13: attribution is per JOB GROUP — the action runs under a unique
    group id, its job ids come back from the status tracker, and only
    THOSE jobs' stages are read from the status store. The previous
    whole-store diff iterated every retained stage through one py4j call
    each, so its cost grew with session age (83 s for one measurement
    after ~30 k suite stages with retainedStages=100000) and shrank when
    eviction dropped history mid-measurement. Bounded attribution is
    O(action stages) at any session age and immune to eviction of OTHER
    stages (a stage evicted mid-measurement would need 100 k stages run
    by the action itself). Skipped stages (reused exchanges) carry no
    metrics entry and correctly contribute 0 new bytes.

    Attribution still requires the session to be otherwise idle only in
    the weak sense that concurrent jobs must not share the group id —
    unrelated concurrent work no longer pollutes the counter.

    The status store is filled by the asynchronous listener bus, so the
    action can return before its job-start events are applied. The bus is
    drained and the group's job ids, stage ids and bytes are re-read on
    every pass until two passes agree and none of its jobs runs: ids read
    once up front would freeze an under-count, even 0."""
    import uuid

    sc = spark.sparkContext
    group = f"runtime-bytes-{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, "runtime-bytes measurement")
    try:
        action()
    finally:
        sc._jsc.clearJobGroup()
    bus = sc._jsc.sc().listenerBus()
    deadline = time.perf_counter() + 5.0
    prev = None
    while True:
        bus.waitUntilEmpty(int(max(1.0, deadline - time.perf_counter()) * 1000))
        stage_ids, running = group_stage_ids(spark, group)
        cur = (stage_ids, _stages_input_bytes(spark, stage_ids))
        if (cur == prev and not running) or time.perf_counter() > deadline:
            return cur[1]
        prev = cur
        time.sleep(0.05)


def group_stage_ids(spark: SparkSession, group: str) -> tuple[set[int], bool]:
    """The stage ids of a job group's jobs, and whether any of them runs."""
    tracker = spark.sparkContext.statusTracker()
    stage_ids: set[int] = set()
    running = False
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
            running = running or info.status == "RUNNING"
    return stage_ids, running


@dataclass
class ScanMetrics:
    """The v1 metric set for one measured query."""

    bytes_read: int  # M1 (planned, v2-style)
    seconds: float  # M2
    rows: int
    dataset_bytes: int

    @property
    def logical_throughput_gbps(self) -> float:  # M4
        return self.bytes_read / 1e9 / self.seconds if self.seconds else 0.0

    @property
    def total_throughput_gbps(self) -> float:  # M3
        return self.dataset_bytes / 1e9 / self.seconds if self.seconds else 0.0

    @property
    def selectivity_pct(self) -> float:  # M5
        return (
            100.0 * self.bytes_read / self.dataset_bytes if self.dataset_bytes else 0.0
        )

    def as_dict(self) -> dict:
        return {
            "bytes_read": self.bytes_read,
            "seconds": round(self.seconds, 4),
            "rows": self.rows,
            "dataset_bytes": self.dataset_bytes,
            "logical_throughput_gbps": round(self.logical_throughput_gbps, 4),
            "total_throughput_gbps": round(self.total_throughput_gbps, 4),
            "selectivity_pct": round(self.selectivity_pct, 4),
        }


def dataset_size(paths: list[str]) -> int:
    total = 0
    for p in paths:
        if os.path.isdir(p):
            for root, _, files in os.walk(p):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        elif os.path.exists(p):
            total += os.path.getsize(p)
    return total


def run_to_completion(df: DataFrame) -> float:
    """Wall-clock for materializing every projected column (noop sink — a
    bare count() would let Catalyst prune all columns and skip the work)."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def measure(
    spark: SparkSession,
    df: DataFrame,
    input_paths: list[str],
    columns: list[str] | None = None,
    predicate: list[tuple[str, str, float]] | None = None,
    count_rows: bool = True,
) -> ScanMetrics:
    """Execute ``df`` and assemble the M1-M5 metric set: wall-time from the
    real execution, bytes from the v2-style metadata accounting. The row
    count rides along as an observed metric — no second job."""
    rows = -1
    if count_rows:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        seconds = run_to_completion(df)
        rows = obs.get["rows"]
    else:
        seconds = run_to_completion(df)
    planned = sum(
        planned_scan_bytes(p, columns, predicate)
        for p in input_paths
        if os.path.isfile(p)
    )
    return ScanMetrics(
        bytes_read=planned,
        seconds=seconds,
        rows=rows,
        dataset_bytes=dataset_size(input_paths),
    )
