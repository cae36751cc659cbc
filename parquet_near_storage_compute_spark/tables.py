"""Table resolution: a "table" is a directory (or file) of Parquet.

Mirrors the reference's data model — tables are paths, schema comes from the
Parquet footer, no catalog (``v1/src/main.rs:119-131``, ``v2/src/main.rs:101-113``,
glob sources in ``datasets/snowset/query_selectivity_distribution.sql:10``).
``spark.read.parquet`` handles directories, globs and multi-file layouts
natively and reads footers at planning time (SURVEY.md §2.1 S1-S3, S7-S8).

Resolving a path lists its files and infers the schema from a footer in a
one-task Spark job. ``resolve_parquet`` does that once per session and
table: later calls reuse the resolved relation (see its docstring).
"""

from __future__ import annotations

import os
import re
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Every table the driver materializes (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


#: Columns written as parquet TIMESTAMP(NANOS); Spark reads them as long
#: (spark.sql.legacy.parquet.nanosAsLong) and we rebuild a timestamp at
#: microsecond precision — the same ns→µs truncation DuckDB applies.
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}

#: Runtime-settable SQL confs the engine's semantics depend on. The caller
#: may hand us ANY SparkSession (the verification driver builds its own), so
#: these are pinned at the table-load chokepoint, not only in get_spark():
#: - nanosAsLong: a TIMESTAMP(NANOS) events.parquet (earlier testdata
#:   generations) is unreadable otherwise; a no-op on micros files;
#: - ansi off: v1 semantics (wrap arithmetic, NULL div-by-zero; SURVEY §7.3);
#: - UTC: formatted-time outputs must match the tz-naive DuckDB oracle.
_REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
}


def ensure_engine_confs(spark: SparkSession) -> None:
    for k, v in _REQUIRED_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            spark.conf.set(k, v)


def path_fingerprint(path: str) -> tuple | None:
    """``(name, mtime_ns, size)`` of a file, or of every file under a
    directory of part files (names relative to it, in sorted order), so an
    in-place rewrite is always visible. None when the path is missing."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return ((os.path.basename(path), st.st_mtime_ns, st.st_size),)
        parts = []
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for name in sorted(files):
                full = os.path.join(root, name)
                st = os.stat(full)
                parts.append(
                    (os.path.relpath(full, path), st.st_mtime_ns, st.st_size)
                )
        return tuple(parts)
    except OSError:
        return None


#: Resolved relations kept per process (LRU). Sized for one corpus's ten
#: tables, the derived copies the contracts write next to it and the
#: fixtures, plus a few test corpora; an entry is a schema and a file
#: listing, and it keeps its session alive until evicted.
_RESOLVED_CAP = 64
_RESOLVED: OrderedDict[tuple, object] = OrderedDict()
_RESOLVED_LOCK = threading.Lock()

#: Hadoop glob characters or a URI scheme: such paths resolve uncached.
_NOT_PLAIN_RE = re.compile(r"[*?\[{]|^[A-Za-z][A-Za-z0-9+.-]*:")


def resolve_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, resolved once per session.

    The first call lists the files and infers the schema (one Spark job);
    later calls with the same key start no job. The key is the session
    (``applicationId`` and ``id(spark)``), the path's realpath, its
    ``path_fingerprint`` and the session's SQL confs, so a new or
    restarted session, any rewrite of the files, or a conf that changes
    how the path resolves (``spark.sql.sources.useV1SourceList`` picks the
    relation type) resolves again. Each call returns a new instance of the
    cached relation: the file listing and schema are shared, the column
    ids are fresh, so two loads of one table still join like two tables.
    Only a plain local file or directory is cached; globs, URIs and
    missing paths go straight to ``spark.read.parquet``."""
    ensure_engine_confs(spark)
    real = os.path.realpath(path)
    fp = None if _NOT_PLAIN_RE.search(path) else path_fingerprint(real)
    if fp is None:
        return spark.read.parquet(path)
    confs = spark._jsparkSession.sessionState().conf().getAllConfs().toString()
    key = (spark.sparkContext.applicationId, id(spark), real, fp, confs)
    with _RESOLVED_LOCK:
        hit = _RESOLVED.get(key)
        if hit is not None:
            _RESOLVED.move_to_end(key)
    if hit is None:
        df = spark.read.parquet(path)
        # the JVM class is looked up once per entry: each py4j lookup of
        # it costs more than building the Dataset
        dataset = spark._jvm.org.apache.spark.sql.classic.Dataset
        with _RESOLVED_LOCK:
            _RESOLVED[key] = (df._jdf.logicalPlan(), dataset)
            while len(_RESOLVED) > _RESOLVED_CAP:
                _RESOLVED.popitem(last=False)
        return df
    relation, dataset = hit
    return DataFrame(
        dataset.ofRows(spark._jsparkSession, relation.newInstance()), spark
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Footer-driven scan of one table (schema inferred, S1/S2 automatic)."""
    df = resolve_parquet(spark, table_path(sf_dir, name))
    for col in _NANOS_TS_COLS.get(name, ()):
        if isinstance(df.schema[col].dataType, T.LongType):
            # integer `div`, not `/`: epoch-nanos (~1.7e18) exceeds double's
            # 53-bit mantissa, so float division would corrupt microseconds
            df = df.withColumn(col, F.expr(f"timestamp_micros(`{col}` div 1000)"))
    return df


def fan_out(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Spread a small-file scan across the cluster before CPU-dense work —
    but ONLY when the scan actually under-parallelizes.

    Parquet splits are sized by bytes (maxPartitionBytes), so a compact
    file of short rows (documents, embeddings) arrives as ONE task even on a
    32-core executor — and any per-row-expensive pipeline (shingling,
    hashing, vector math) serializes. One cheap round-robin exchange of the
    raw rows buys full parallelism for everything downstream.

    ``partitions`` is a minimum-parallelism FLOOR, not an exact target
    (ADVICE r9): when the input already has at least that many partitions
    the DataFrame is returned unchanged, so callers must not rely on
    getting exactly ``partitions`` partitions back.

    Conditional since r9 (VERDICT r8 #2): at 100 TB the input already
    yields ~10^5 byte-sized splits, and a blanket repartition would
    re-shuffle the ENTIRE corpus just to undo split geometry that was never
    compact — the largest avoidable shuffle in the engine. The guard reads
    the scan's planned partition count (plan-time file-split math, no job)
    and skips the exchange when parallelism is already there; the fan-out
    branch stays active at every tested SF, where the corpus is one
    compact file."""
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def local_literal_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Small literal frame as a PURE JVM plan (explode of a struct-array
    literal). ``spark.createDataFrame(list, ...)`` builds a pickled-RDD
    relation whose EVERY action launches Python workers — measured
    0.4-0.5 s per noop run on the ≤20-row pagerank / MMR result frames
    and 1.2-2.4 s on the 6-branch BPE merge union, vs ~0.1 s for this
    form (OPTIMIZATION_r12.md wave 4). Only for driver-computed literal
    results bounded in the dozens of rows: each value becomes a plan
    literal, so a corpus-sized list would explode the plan.

    numPartitions=1 on the range seed (r13): the default
    ``spark.range(1)`` splits one row across defaultParallelism
    partitions, so every action on the literal frame scheduled 32 tasks
    (31 empty) — measured as the whole cost of the sub-0.1 s consumers
    (train_bpe_merges' 6-branch union ran 192 tasks for 6 rows)."""
    st = T.StructType.fromDDL(schema)
    if not rows:
        return spark.createDataFrame([], st)
    for i, row in enumerate(rows):
        # fail fast on caller schema drift (ADVICE r12): zip() below would
        # silently truncate a short/long row into an opaque plan error
        if len(row) != len(st.fields):
            raise ValueError(
                f"local_literal_df row {i} has {len(row)} values, "
                f"schema has {len(st.fields)} fields"
            )
    structs = [
        F.struct(
            *[
                F.lit(v).cast(f.dataType).alias(f.name)
                for v, f in zip(row, st.fields)
            ]
        )
        for row in rows
    ]
    return (
        spark.range(0, 1, numPartitions=1)
        .select(F.explode(F.array(*structs)).alias("_r"))
        .select("_r.*")
    )


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register all tables as temp views (for the spark.sql surface)."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
