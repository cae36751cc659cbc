"""Benchmark runner: what a caller pays per query.

    python3 perfbench/run.py --workload scan_prune_agg --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, one closed-loop client, Spark on
``local[<cores>]``. Set-up (timed as ``setup_s``) starts the session, empties
the program's derived-copy directories, re-lays out lineitem sorted on the
workload's column in 1 MiB row groups through
``sources.io.write_parquet_sized``, probes it with
one v1 query, and warms the workload up. The timed loop then runs whole
passes of seeded requests until ``--seconds`` have passed and at least
MIN_REQUESTS are done. Every result is checked against DuckDB afterwards.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics, including the
tracing overhead. The last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Everything the run
writes stays under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

T0 = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

#: files and row-group size of the lineitem relayout
RELAYOUT_FILES = 4
ROW_GROUP_BYTES = 1 << 20
#: the timed loop runs whole passes until --seconds have passed and at
#: least MIN_REQUESTS are done; the tail is the percentile that leaves ten
#: samples beyond it at that count, the same percentile on every run
MIN_REQUESTS = 40
TAIL_PCT = 100.0 * (MIN_REQUESTS - 10) / MIN_REQUESTS

E2E_UNITS = {
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "queries_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "sources.io.write_s": "s",
    "sources.io.write_amp": "ratio",
    "functions.grammar.parse_s": "s",
    "tables.load_s": "s",
    "plans.metrics.planned_bytes_s": "s",
    "plans.metrics.planned_bytes_frac": "ratio",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.cpu_frac": "ratio",
    "spark.gc_frac": "ratio",
    "spark.slot_util": "ratio",
    "spark.task_skew": "ratio",
    "trace_overhead_frac": "ratio",
}


def ensure_data(sf: str) -> float:
    """Generate the corpus at ``sf`` once per checkout (a child process,
    so its memory stays out of ``peak_rss_mb``); returns seconds spent."""
    t = time.perf_counter()
    out = os.path.join(WORK, "data", f"sf{sf}")
    if not os.path.isdir(out):
        shutil.rmtree(out + ".partial", ignore_errors=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "datagen.py"), out, sf], check=True
        )
    return time.perf_counter() - t


def percentile(values: list[float], pct: float) -> tuple[float, int]:
    """Nearest-rank percentile, and how many samples lie above it."""
    xs = sorted(values)
    v = xs[max(0, math.ceil(pct / 100.0 * len(xs)) - 1)]
    return v, sum(x > v for x in xs)


def rss_mb(jvm_pid: int) -> float:
    """Peak RSS of this process plus its JVM."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (own_kb + jvm_kb) / 1024.0


class Ctx:
    """What a request needs: the session, the package's modules, the
    benchmark's tracer and the corpus paths."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.group_prefix: str | None = None
        self.warmup_results: list = []

    @contextmanager
    def job_group(self, kind: str):
        """Tag the jobs started inside with this request's group (traced
        passes only)."""
        if self.group_prefix is None:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{self.group_prefix}-{kind}", kind)
        try:
            yield
        finally:
            sc._jsc.clearJobGroup()

    def expect(self, req, result) -> None:
        """Keep a set-up result for the checks after the timed loop."""
        self.warmup_results.append((req, result))


def relayout(ctx, io, tables, workload) -> None:
    """Copy of the corpus's lineitem replicated ``workload.relayout_copies``
    times, sorted on ``workload.sort_col`` into RELAYOUT_FILES files with
    1 MiB row groups, written through the package's sized Parquet sink."""
    from pyspark.sql import functions as F

    tr, spark, copies = ctx.tracer, ctx.spark, workload.relayout_copies
    src_dir = os.path.join(WORK, "data", f"sf{workload.sf}")
    src_path = tables.table_path(src_dir, "lineitem")
    with tr.span("tables.load"):
        src = tables.load_table(spark, src_dir, "lineitem")
    df = src
    for r in range(1, copies):
        df = df.unionByName(
            src.withColumn("l_orderkey", F.col("l_orderkey") + r * 10_000_000)
        )
    df = df.repartitionByRange(RELAYOUT_FILES, workload.sort_col).sortWithinPartitions(
        workload.sort_col
    )
    out = tables.table_path(ctx.relayout_root, "lineitem")
    with tr.span("sources.io.write") as sp:
        io.write_parquet_sized(df, out, row_group_bytes=ROW_GROUP_BYTES)
    ctx.relayout_files = sorted(
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
    )
    ctx.relayout_bytes = sum(os.path.getsize(f) for f in ctx.relayout_files)
    sp["amp"] = ctx.relayout_bytes / (copies * os.path.getsize(src_path))
    ctx.relayout_sql = f"read_parquet('{out}/*.parquet')"
    check_relayout(ctx, src_path, copies, workload.sort_col)


def check_relayout(ctx, src_path: str, copies: int, sort_col: str) -> None:
    """The relayout holds every row of every copy, in row groups whose
    ranges of the sort column never overlap."""
    import pyarrow.parquet as pq

    want = copies * pq.ParquetFile(src_path).metadata.num_rows
    rows, ranges = 0, []
    for f in ctx.relayout_files:
        md = pq.ParquetFile(f).metadata
        rows += md.num_rows
        idx = md.schema.names.index(sort_col)
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            ranges.append((st.min, st.max))
    ranges.sort()
    if rows != want or any(a[1] > b[0] for a, b in zip(ranges, ranges[1:])):
        raise RuntimeError(f"relayout holds {rows} rows (want {want}) or overlaps")
    ctx.relayout_groups = len(ranges)


def start_session(session, cores: int, tmp: str):
    """The program's session, its driver heap committed at start and its
    young generation fixed: G1 otherwise sizes both from pause times, which
    follow the host's load, and the resident set with them."""
    return session.get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{session.DEFAULT_CONF['spark.driver.memory']} -Xmn1g "
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            ),
        },
    )


def stop(spark) -> None:
    """Stop Spark and wait for its JVM, and the Python workers it owns, to
    exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import duckdb

        from parquet_near_storage_compute_spark import registry, session, tables
        from parquet_near_storage_compute_spark.sources import io, pyds
        from reqgen import scan_request
        from spans import JobGroupCounters, Tracer
        from workloads import WORKLOADS, run_scan, verdict
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))

    # everything the run writes lives under WORK
    tmp = os.path.join(WORK, "tmp")
    derived = os.path.join(WORK, "derived")
    for d in (tmp, derived):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    # no JVM keeps a perf-data file in the system temp directory
    os.environ.update(
        TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp, SPARK_LAUNCHER_OPTS="-XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    datagen_s = ensure_data(workload.sf)
    # the program's derived-copy caches, redirected into WORK, start empty
    io._TMP_DIR = pyds._TMP_DIR = os.path.join(derived, "pnsc_sources")
    io._PARTITIONED_DIR_PREFIX = os.path.join(derived, "pnsc_partitioned_events")

    phases = {"imports": time.perf_counter() - T0 - datagen_s}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    tracer = Tracer(enabled=bool(args.trace))
    ctx = Ctx(tracer)
    ctx.tmp_dir = tmp
    ctx.sf_dir = os.path.join(WORK, "data", f"sf{workload.sf}")
    ctx.relayout_root = os.path.join(derived, "relayout")
    ctx.queries, ctx.oracles = registry.all_queries(), registry.all_oracles()
    phase("registry")
    with tracer.span("session.start"):
        spark = ctx.spark = start_session(session, cores, tmp)
    spark.sparkContext.setLogLevel("ERROR")
    phase("session")
    host = {
        "nproc": cores,
        "ram_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        "sf": float(workload.sf),
        "seed": args.seed,
        "pyspark": spark.version,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
    }
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    counters = JobGroupCounters(spark) if args.trace else None
    try:
        relayout(ctx, io, tables, workload)
        phase("relayout")
        probe = scan_request(random.Random(-1), 0, 1)
        ctx.expect(probe, run_scan(ctx, probe))
        phase("probe")
        workload.warm_up(ctx)
        phase("warm_up")
        setup_s = time.perf_counter() - T0 - datagen_s

        records, pass_walls = run_loop(ctx, workload, args, counters)
        peak_rss = rss_mb(jvm_pid)
        failures, warmup_failures = check_results(ctx, workload, records, verdict)
    finally:
        stop(spark)

    untraced = [r for r in records if not r["traced"]]
    lat = [r["latency_s"] for r in untraced]
    tail, beyond = percentile(lat, TAIL_PCT)
    e2e = {
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail,
        "queries_per_s": sum(r["error"] is None for r in untraced)
        / sum(w for w, traced in pass_walls if not traced),
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss,
    }
    name = workload.name
    for key, value in e2e.items():
        print(f"{name} {key} {value:.6g} {E2E_UNITS[key]}")
    print(f"{name} failed_frac {len(failures) / len(records):.6g} ratio")
    print(f"{name} latency_tail_s is p{TAIL_PCT:g} of {len(lat)} samples, {beyond} beyond it")
    labels = [r["label"] for r in untraced]
    detail = {
        "workload": name,
        "host": host | {"relayout_row_groups": ctx.relayout_groups},
        "datagen_s": datagen_s,
        "setup_phases_s": phases,
        "requests": len(records),
        "passes": len(pass_walls),
        "failed_frac": len(failures) / len(records),
        "latency_tail_percentile": TAIL_PCT,
        "latency_tail_beyond": beyond,
        "latency_samples": len(lat),
    }
    if len(set(labels)) < len(labels):
        detail["median_latency_by_label_s"] = {
            label: statistics.median(r["latency_s"] for r in untraced if r["label"] == label)
            for label in sorted(set(labels))
        }
    if args.trace:
        detail["end_to_end_untraced"] = e2e
        layers = layer_metrics(tracer, records, pass_walls, cores)
        out = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
        write_trace(tracer, name, args.seed, detail, records)
    else:
        out = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": not failures and not warmup_failures,
                "attempted": len(records),
                "failed": len(failures),
                "metrics": out,
            }
        )
    )
    return 0


def run_loop(ctx, workload, args, counters):
    """Whole passes until --seconds have passed and MIN_REQUESTS are done.
    With tracing, passes alternate untraced and traced, and each kind gets
    the full time, so the overhead is measured on interleaved passes."""
    tracer = ctx.tracer
    records, pass_walls = [], []
    kinds = (False, True) if args.trace else (False,)
    spent = {k: 0.0 for k in kinds}
    done = {k: 0 for k in kinds}
    passes = workload.passes(args.seed)
    while any(spent[k] < args.seconds or done[k] < MIN_REQUESTS for k in kinds):
        traced = kinds[len(pass_walls) % len(kinds)]
        tracer.enabled = traced
        batch = next(passes)
        t_pass = time.perf_counter()
        for req in batch:
            i = len(records)
            tracer.request = i
            group = ctx.group_prefix = f"perfbench-{i}" if traced else None
            rec = {"i": i, "label": workload.label(req), "req": req, "traced": traced}
            t = time.perf_counter()
            try:
                rec["result"], rec["error"] = workload.execute(ctx, req), None
            except Exception as e:  # a raising request counts as failed
                traceback.print_exc()
                rec["result"], rec["error"] = None, f"{type(e).__name__}: {e}"
            rec["latency_s"] = time.perf_counter() - t
            if traced:
                rec["spark"] = counters.read([f"{group}-build", f"{group}-run"])
                rec["build_jobs"] = counters.snapshot([f"{group}-build"])["jobs"]
            records.append(rec)
        wall = time.perf_counter() - t_pass
        pass_walls.append((wall, traced))
        spent[traced] += wall
        done[traced] += len(batch)
    ctx.group_prefix = tracer.request = None
    tracer.enabled = bool(args.trace)
    return records, pass_walls


def check_results(ctx, workload, records, verdict):
    """Check every timed and set-up result and print each mismatch.
    Returns the failed timed requests and the failed set-up requests."""
    import duckdb

    from check import Oracle

    ctx.oracle = Oracle(ctx.sf_dir, os.path.join(WORK, "oracle_memo"), ctx.tmp_dir)
    ctx.scan_duck = duckdb.connect()
    try:
        failures = []
        for rec in records:
            why = rec["error"] or verdict(ctx, rec["req"], rec["result"])
            if why:
                print(f"FAILED request {rec['i']} [{rec['label']}]: {why}")
                failures.append(rec)
        warmup_failures = []
        for req, result in ctx.warmup_results:
            why = verdict(ctx, req, result)
            if why:
                print(f"FAILED set-up request [{workload.label(req)}]: {why}")
                warmup_failures.append(req)
        return failures, warmup_failures
    finally:
        ctx.oracle.close()
        ctx.scan_duck.close()


def layer_metrics(tracer, records, pass_walls, cores) -> dict:
    """Per-layer means over the traced requests (set-up calls for layers
    the requests do not call)."""
    traced = [r for r in records if r["traced"]]
    sp = [r["spark"] for r in traced]
    run_ms = sum(s["run_ms"] for s in sp)
    exec_ms = sum(s["exec_ms"] for s in sp)

    def mean(key):
        return sum(s[key] for s in sp) / len(sp)

    def qps(kind):
        n = sum(r["error"] is None for r in records if r["traced"] is kind)
        return n / sum(w for w, t in pass_walls if t is kind)

    def mean_attr(span_name, key):
        spans = tracer.calls(span_name)
        return sum(s[key] for s in spans) / len(spans)

    return {
        "session.start_s": tracer.mean_s("session.start"),
        "sources.io.write_s": tracer.mean_s("sources.io.write"),
        "sources.io.write_amp": mean_attr("sources.io.write", "amp"),
        "functions.grammar.parse_s": tracer.mean_s("functions.grammar.parse"),
        "tables.load_s": tracer.mean_s("tables.load"),
        "plans.metrics.planned_bytes_s": tracer.mean_s("plans.metrics.planned_bytes"),
        "plans.metrics.planned_bytes_frac": mean_attr("plans.metrics.planned_bytes", "frac"),
        "operators.build_s": tracer.mean_s("operators.build"),
        "operators.build_jobs": sum(r["build_jobs"] for r in traced) / len(traced),
        "spark.exec_s": mean("exec_ms") / 1000.0,
        "spark.jobs": mean("jobs"),
        "spark.stages": mean("stages"),
        "spark.tasks": mean("tasks"),
        "spark.shuffle_read_bytes": mean("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": mean("shuffle_write_bytes"),
        "spark.spill_bytes": mean("spill_bytes"),
        "spark.cpu_frac": sum(s["cpu_ns"] for s in sp) / (run_ms * 1e6) if run_ms else 0.0,
        "spark.gc_frac": sum(s["gc_ms"] for s in sp) / run_ms if run_ms else 0.0,
        "spark.slot_util": run_ms / (exec_ms * cores) if exec_ms else 0.0,
        "spark.task_skew": statistics.median(s["task_skew"] for s in sp),
        "trace_overhead_frac": 1.0 - qps(True) / qps(False),
    }


def write_trace(tracer, workload: str, seed: int, detail: dict, records) -> None:
    """The spans and per-request counters of a traced run, as JSON."""
    out = os.path.join(WORK, "out")
    os.makedirs(out, exist_ok=True)
    requests = [
        {k: r[k] for k in ("i", "label", "traced", "latency_s", "error")}
        | {"spark": {k: v for k, v in r.get("spark", {}).items() if k != "job_spans_ms"}}
        for r in records
    ]
    with open(os.path.join(out, f"trace_{workload}_{seed}.json"), "w") as fh:
        json.dump({"detail": detail, "spans": tracer.spans, "requests": requests}, fh)


if __name__ == "__main__":
    sys.exit(main())
