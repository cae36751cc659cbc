"""Cross-query memoization of shared eager subframes (r12, VERDICT #3).

Several registered queries compose the SAME expensive subframe: the three
cluster-level dedup contracts each rebuild the LSH candidate graph and
re-run the min-label propagation loop (an eager localCheckpoint plus one
count() action per round); the four BPE consumers each re-run the merge
loop (two eager checkpoints per round). Each query function must stay
independently callable — the driver and the tests build queries fresh in
any order — but within one session the repeated construction re-executes
identical deterministic work, measured at 3-4 s per query in BENCH_DETAIL
``plan_construction_sec``.

``PlanMemo`` hands every consumer the same DataFrame, keyed by
(session, corpus identity, label):

- session: ``applicationId`` + the id() of the live SparkSession — a new
  or restarted session never sees another session's frames (their
  checkpoint RDDs die with the old context);
- corpus identity: realpath of sf_dir plus ``tables.path_fingerprint``
  of each source table (file, or directory of part files) — a test that
  overwrites its tmp corpus invalidates automatically, exactly like the
  /tmp/pnsc_sources derived-copy cache;
- label: the subframe family (component labels, BPE doc counts, ...).

Entries are LRU-bounded (a handful of frames per family at most — tests
churn tmp corpora; the bench and the driver use one sf_dir), and an
evicted frame's checkpoint blocks are reclaimed by Spark's ContextCleaner
once the DataFrame is garbage-collected. Memoized frames MUST be
deterministic (every memoized family here is integer-exact and
partition-stable — EXACTNESS.json), so a consumer cannot observe whether
it got a fresh or a shared frame except through construction latency.
"""

from __future__ import annotations

import os
from collections import OrderedDict
from collections.abc import Callable

from typing import Any

from pyspark.sql import SparkSession

from parquet_near_storage_compute_spark.tables import path_fingerprint, table_path

#: Frames kept alive per PlanMemo (LRU). Sized for one corpus × every
#: label a module registers (similarity carries 6) plus a couple of test
#: corpora — small enough that pinned checkpoint blocks stay bounded,
#: large enough that one bench/driver pass never evicts a frame a later
#: composite still needs.
_CAP = 16


def _fingerprint(
    sf_dir: str, tables: tuple[str, ...], extra_paths: tuple[str, ...] = ()
) -> tuple:
    """``path_fingerprint`` per source table and extra path."""
    paths = [(t, table_path(sf_dir, t)) for t in tables] + [
        (p, p) for p in extra_paths
    ]
    return tuple((t, path_fingerprint(p) or "missing") for t, p in paths)


class PlanMemo:
    """One memo per operator module; ``tables`` lists the source tables
    the memoized frames derive from (the invalidation scope)."""

    def __init__(
        self,
        tables: tuple[str, ...] = ("documents",),
        extra_paths: tuple[str, ...] = (),
    ) -> None:
        self._tables = tables
        self._extra_paths = extra_paths
        self._store: OrderedDict[tuple, Any] = OrderedDict()

    def get(
        self,
        spark: SparkSession,
        sf_dir: str,
        label: str,
        build: Callable[[], Any],
    ) -> Any:
        key = (
            spark.sparkContext.applicationId,
            id(spark),
            os.path.realpath(sf_dir),
            _fingerprint(sf_dir, self._tables, self._extra_paths),
            label,
        )
        hit = self._store.get(key)
        if hit is not None:
            self._store.move_to_end(key)
            return hit
        df = build()
        self._store[key] = df
        while len(self._store) > _CAP:
            self._store.popitem(last=False)
        return df

    def clear(self) -> None:
        self._store.clear()
