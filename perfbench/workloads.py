"""The workloads. Each runs one closed-loop client: a request is sent
only after the previous one has returned, and it covers the caller's whole
cost, building the query (eager jobs included) and collecting its result.

- ``scan_prune_agg``: seeded v1 queries over the relayout of lineitem
  sorted on the fact column; the storage path (footer pruning, decode,
  filter, aggregate).
- ``scan_noprune``: the same requests over the same relayout sorted on
  ``l_orderkey`` instead, so every row group spans the fact column's whole
  range and footer pruning skips nothing.
- ``operator_mix``: the 20 non-v1 headline contracts in a seeded order, in
  one warm session; shuffle, join, window and aggregate execution.
- ``cold_build``: the contracts whose cost sits mostly in building the plan
  on the driver, each request in a fresh ``spark.newSession()``; eager jobs
  and plan building, with the program's per-session plan memo always cold.
"""

from __future__ import annotations

import math

from bench import CORE22
from parquet_near_storage_compute_spark.functions import grammar
from parquet_near_storage_compute_spark.plans import metrics
from parquet_near_storage_compute_spark.tables import load_table

import check
from reqgen import FACT, N_ROWS, ScanRequest, contract_passes, scan_passes

#: ``bench.CORE22`` without its two v1 rungs
OPERATOR_MIX = [n for n in CORE22 if not n.startswith("v1_")]

COLD_BUILD = [
    "dedup_keep_best",
    "train_bpe_merges",
    "source_python_datasource",
    "sink_zorder_layout",
    "sim_knn_join",
    "pipeline_curation_report",
    "events_pagerank",
    "sim_mmr_select",
]

#: seed of the fixed warm-up requests, so set-up does the same work on
#: every run whatever ``--seed`` is
WARMUP_SEED = 0
#: v1 warm-up passes: the JIT is still compiling the scan path after one
WARMUP_SCAN_PASSES = 3


def run_scan(ctx, req: ScanRequest) -> tuple[list[str], list[tuple]]:
    """One v1 query, as a caller issues it through the package."""
    tr = ctx.tracer
    with tr.span("functions.grammar.parse"):
        pred = grammar.parse_predicate(req.predicate)
        aggs = grammar.parse_aggregations(list(req.aggs))
    with tr.span("tables.load"):
        df = load_table(ctx.spark, ctx.relayout_root, "lineitem")
    with tr.span("plans.metrics.planned_bytes") as sp:
        planned = sum(
            metrics.planned_scan_bytes(f, list(req.columns), list(req.conjuncts))
            for f in ctx.relayout_files
        )
        sp["frac"] = planned / ctx.relayout_bytes
    with ctx.job_group("build"), tr.span("operators.build"):
        query = df.filter(pred).agg(*aggs)
    with ctx.job_group("run"):
        rows = [tuple(r) for r in query.collect()]
    return query.columns, rows


def scan_verdict(ctx, req: ScanRequest, result) -> str | None:
    """Compare a v1 result with DuckDB over the same relayout files.

    MIN, MAX and COUNT must agree exactly. SUM and AVG of doubles depend on
    the order rows are added in, which neither engine fixes; each may be off
    by (n - 1) units in the last place relative to the sum of magnitudes
    (Higham's bound for recursive summation), so the two may differ by twice
    that. Every aggregated column is non-negative, so the sum of magnitudes
    is the sum itself."""
    rel = ctx.scan_duck.execute(req.oracle_sql(ctx.relayout_sql))
    ocols = [d[0] for d in rel.description]
    orow = dict(zip(ocols, rel.fetchone()))
    cols, rows = result
    if sorted(cols) != sorted(c for c in ocols if c != N_ROWS) or len(rows) != 1:
        return f"shape {cols} x {len(rows)} rows, oracle {ocols}"
    rtol = max(check.FLOAT_RTOL, 2 * orow[N_ROWS] * 2.0**-53)
    for col, got in zip(cols, rows[0]):
        want = orow[col]
        summed = col.startswith(("sum_", "avg_")) and None not in (got, want)
        ok = math.isclose(got, want, rel_tol=rtol) if summed else got == want
        if not ok:
            return f"{col}: {got!r} != {want!r}"
    return None


def verdict(ctx, req, result) -> str | None:
    """None when a result matches its oracle, else why not. Requests are
    v1 queries or contract names."""
    if isinstance(req, ScanRequest):
        return scan_verdict(ctx, req, result)
    return check.mismatch(*result, *ctx.oracle.rows(ctx.oracles[req]))


def run_contract(ctx, spark, name: str) -> tuple[list[str], list[tuple]]:
    with ctx.job_group("build"), ctx.tracer.span("operators.build"):
        df = ctx.queries[name](spark, ctx.sf_dir)
    with ctx.job_group("run"):
        rows = [tuple(r) for r in df.collect()]
    return df.columns, rows


class ScanPruneAgg:
    name = "scan_prune_agg"
    sf = "0.1"
    relayout_copies = 2
    sort_col = FACT

    def warm_up(self, ctx) -> None:
        passes = scan_passes(WARMUP_SEED)
        for _ in range(WARMUP_SCAN_PASSES):
            for req in next(passes):
                ctx.expect(req, self.execute(ctx, req))

    def passes(self, seed: int):
        return scan_passes(seed)

    def execute(self, ctx, req: ScanRequest):
        return run_scan(ctx, req)

    def label(self, req: ScanRequest) -> str:
        return f"{req.predicate} | {', '.join(req.aggs)}"


class ScanNoPrune(ScanPruneAgg):
    name = "scan_noprune"
    sort_col = "l_orderkey"


class OperatorMix:
    name = "operator_mix"
    sf = "0.1"
    relayout_copies = 1
    sort_col = FACT
    contracts = OPERATOR_MIX

    def warm_up(self, ctx) -> None:
        for name in self.contracts:
            ctx.expect(name, self.execute(ctx, name))

    def passes(self, seed: int):
        return contract_passes(seed, self.contracts)

    def execute(self, ctx, name: str):
        return run_contract(ctx, ctx.spark, name)

    def label(self, req) -> str:
        return str(req)


class ColdBuild(OperatorMix):
    name = "cold_build"
    contracts = COLD_BUILD

    def warm_up(self, ctx) -> None:
        # a throwaway client warms the JVM and fills the derived copies;
        # the base session stays idle, as in a server with many clients
        client = ctx.spark.newSession()
        for name in self.contracts:
            ctx.expect(name, run_contract(ctx, client, name))

    def execute(self, ctx, name: str):
        with ctx.tracer.span("session.new"):
            client = ctx.spark.newSession()
        return run_contract(ctx, client, name)


WORKLOADS = {
    w.name: w for w in (ScanPruneAgg(), ScanNoPrune(), OperatorMix(), ColdBuild())
}
