"""Query registry + table loading shared by the catalog modules."""

from __future__ import annotations

import math
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

_SIZE_UNITS = {"k": 1024, "m": 1024**2, "g": 1024**3}

# Rows-per-task floor for the opt-in scan spread: a spread never splits
# a table finer than this many rows per partition, so a 5k-row table
# tops out at ~20 partitions instead of always paying a
# defaultParallelism-way exchange (a table-level spread regressed every
# light consumer at local[32]: dedup 0.38×, corpus 0.64×, with an 8-core
# run beating the 32-core one).
_SPREAD_MIN_ROWS_PER_TASK = 256


def _max_partition_bytes(spark: SparkSession) -> int:
    raw = str(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    ).lower().rstrip("b")
    if raw and raw[-1] in _SIZE_UNITS:
        return int(raw[:-1]) * _SIZE_UNITS[raw[-1]]
    return int(raw)


def _spread_unsplittable_scan(
    spark: SparkSession, df: DataFrame, path: str, force: bool = False
) -> DataFrame:
    """Guide §2.5's unsplittable-input remedy, scale-guarded and OPT-IN.

    The shipped test parquets are SINGLE-ROW-GROUP files, so a scan can
    never yield more than one task regardless of split configuration —
    every scan-rooted narrow stage (q1's 600k-row decimal partial
    aggregate, the corpus gate/shingle passes, the minhash signature)
    was serializing onto one core of local[32] (r14 optimization round;
    the r7 ledger's 78s→2.85s 'spread rows first' finding).

    Round-robin repartition, applied ONLY on explicit opt-in
    (``table(..., spread=True)``) at builders whose scan roots heavy
    per-row compute. r14 applied it table-wide to every documents read
    and the driver's own bench priced that as a regression: light
    consumers (dedup_exact_docs' md5 groupBy, 0.22→0.57 s) paid a
    32-way exchange of full text rows they never amortized, and the
    8-core bench beat the 32-core bench (inverse scaling — the
    per-partition overhead grows with core count). Opt-in at the heavy
    stage is the r15 unwind (VERDICT r14 item 1).

    Two scale guards:
      * layout guard — no exchange when the estimated split count
        (on-disk bytes / maxPartitionBytes) already reaches the target;
        at any production layout this is a structural no-op ('fix at
        the source if you can').
      * size guard — the target is bounded by
        ceil(rows / _SPREAD_MIN_ROWS_PER_TASK), so a small table is
        never diced into defaultParallelism near-empty partitions whose
        scheduling overhead exceeds the recovered parallelism (the
        measured r14 failure mode).

    Round-robin (not keyed) partitioning keeps hash-exchange counts
    untouched and adds no skew; Spark's default sort-before-repartition
    keeps row placement retry-deterministic."""
    if not force:
        return df
    target = spark.sparkContext.defaultParallelism
    try:
        if os.path.isdir(path):
            files = [
                os.path.join(path, f)
                for f in os.listdir(path)
                if not f.startswith(("_", "."))
            ]
        else:
            files = [path]
        sizes = [os.path.getsize(f) for f in files]
    except OSError:
        return df  # non-local storage: splits come from the layout
    if not sizes:
        return df
    try:
        import pyarrow.parquet as pq

        n_rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        target = min(target, max(1, math.ceil(n_rows / _SPREAD_MIN_ROWS_PER_TASK)))
    except Exception:
        pass  # footer unreadable: fall back to the unbounded target
    maxpb = _max_partition_bytes(spark)
    est_splits = sum(max(1, math.ceil(s / maxpb)) for s in sizes)
    if est_splits >= target or target <= 1:
        return df
    return df.repartition(target)


@dataclass(frozen=True)
class Query:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB ANSI SQL; None → rows-only check
    bench: bool = False  # part of the bench.py headline set
    doc: str = ""


CATALOG: dict[str, Query] = {}


def query(name: str, oracle: str | None, bench: bool = False, doc: str = ""):
    """Decorator registering a builder in the catalog."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        CATALOG[name] = Query(name=name, builder=fn, oracle=oracle, bench=bench, doc=doc or (fn.__doc__ or ""))
        return fn

    return wrap


def table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Load a driver-provided parquet table (TESTDATA.md). Parquet scans
    get Catalyst column pruning + predicate pushdown for free; at 100 TB
    these would be partitioned datasets and the same reads partition-prune.

    ``events.ts`` has shipped both as TIMESTAMP(NANOS) (which Spark's
    vectorized reader surfaces as raw nanos under the ``nanosAsLong``
    legacy conf) and as plain ``timestamp[us]`` across test-data
    generations.  We keep the conf set so a nanos file still loads, then
    guard the nanos→micros truncation on the dtype actually read: only a
    ``LongType`` column needs the rewrite.  DuckDB truncates nanos the
    same way, so oracle comparisons stay exact either way.
    """
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        # Set the legacy conf for THIS footer probe, and restore it
        # whenever the file turns out not to need it: leaving it set
        # session-globally leaked nanos-as-long semantics into every
        # later parquet read — a TIMESTAMP(NANOS) column in a checkpoint
        # read-back or user file would silently surface as raw int64
        # nanos far from this code (r14 review finding).  When the file
        # IS a nanos generation, the conf must stay set: the vectorized
        # reader consults it at EXECUTION time, so restoring it would
        # break the (lazy) scan later — that one necessary leak is the
        # documented trade, paid only on nanos-generation test data.
        prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        nanos = False
        try:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
            nanos = isinstance(df.schema["ts"].dataType, T.LongType)
            if nanos:
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        finally:
            if not nanos:
                if prior is None:
                    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
                else:
                    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior)
        return _spread_unsplittable_scan(
            spark, df, f"{sf_dir}/{name}.parquet", force=spread
        )
    path = f"{sf_dir}/{name}.parquet"
    return _spread_unsplittable_scan(
        spark, spark.read.parquet(path), path, force=spread
    )
