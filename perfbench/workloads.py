"""The benchmark workloads.

Both workloads run the same open-loop serving reader beside their own
closed-loop work, so both report the same end-to-end figures: set-up
time, serving read latency (p50, p75) and the median time of one unit of
their own work.

  ledger_ingest     one unit lands one raw-fetch batch through the batch
                    path (write_bronze, then land_with_quarantine) and the
                    same rows, as a conformed bronze JSONL arrival, through
                    the streaming path (one availableNow
                    stream_normalize_to_silver query); reads hit the live
                    batch tables. A run lands a fixed number of batches.
  catalog_headline  one pass over the nine bench=True catalog queries in a
                    seed-permuted order, collecting each result; it is the
                    session's first run of these plans, as a scheduled
                    batch job would pay it. Reads hit the warm-up ledger.

Inputs are written before the timed region, and checks run after it; each
check is an operation attempted, and a failed one counts like an
operation that raised.
"""

from __future__ import annotations

import decimal
import json
import math
import os
import random
import threading
import time
import traceback
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import inputs
from stats import median, ratio
from tracing import Tracer

READS = ("ledger_by_wallet", "wallet_balances", "transactions_by_wallet", "recent_transactions")
HEADLINE = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "join_broadcast_brand_revenue",
    "dedup_exact_docs",
    "simsearch_cosine_topk",
    "minhash_neardup_pairs",
    "normalize_throughput",
    "corpus_prep_pipeline",
)
STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")

INGEST_BATCH_ROWS = 1000  # raw rows offered per ingest batch
INGEST_UNITS = 5  # timed batches per run, whatever --seconds is
WARMUP_BATCH_ROWS = 200  # the set-up's tiny batch
PRIMING_BATCHES = 1  # untimed batches that create the tables and warm the JIT
READ_RATE_PER_S = 3.0  # open-loop serving reads
MIN_READS = 40  # enough for a p75 with 10 samples beyond it
READ_CLIENTS = 4  # client threads the reads are issued to


@dataclass
class Ops:
    """Operations attempted and failed, shared by the run's threads."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    lock: threading.Lock = field(default_factory=threading.Lock)

    def record(self, ok: bool, what: str) -> None:
        with self.lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.failures.append(what)

    def check(self, name: str, fn) -> None:
        """Run one output check; a raise or a False result fails it."""
        try:
            ok = bool(fn())
            detail = name
        except Exception:  # noqa: BLE001 - a check that cannot run has failed
            ok = False
            detail = f"{name}: {traceback.format_exc(limit=3)}"
        self.record(ok, detail)


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    work: str  # this run's scratch directory
    ops: Ops
    warm: dict  # warm-up tables: bronze, silver, quarantine


# ---------------------------------------------------------------------------
# Serving reader (open loop)
# ---------------------------------------------------------------------------


class Reader:
    """Open-loop serving reads: a scheduler issues the four reads
    round-robin at a fixed rate to a small pool of client threads, whether
    or not earlier reads have finished. Each read is timed from the moment
    it was due, so time spent queued for a client counts too."""

    def __init__(self, ctx: Ctx, gen: inputs.LedgerGen, bronze: str, silver: str):
        self.ctx, self.gen, self.bronze, self.silver = ctx, gen, bronze, silver
        self.latency: list[float] = []
        self.late: list[float] = []
        self.stop = threading.Event()
        self._pool = ThreadPoolExecutor(READ_CLIENTS, thread_name_prefix="reader")
        self._futures = []
        self._thread = threading.Thread(target=self._schedule, name="read-scheduler", daemon=True)
        self._parent = None

    def start(self) -> None:
        self._parent = self.ctx.tracer.current()
        self._thread.start()

    def finish(self) -> None:
        self.stop.set()
        self._thread.join(timeout=60)
        self._pool.shutdown(wait=True)
        for f in self._futures:
            f.result()
        if self._thread.is_alive():
            raise RuntimeError("serving read scheduler did not stop")

    def _schedule(self) -> None:
        rng = random.Random(f"{self.ctx.seed}:reads")
        t0 = time.perf_counter()
        k = 0
        while not (self.stop.is_set() and k >= MIN_READS):
            due = t0 + k / READ_RATE_PER_S
            left = due - time.perf_counter()
            if left > 0:
                if self.stop.is_set():
                    time.sleep(left)  # still short of MIN_READS: keep the rate
                elif self.stop.wait(left) and k >= MIN_READS:
                    break
            kind = READS[k % len(READS)]
            self._futures.append(self._pool.submit(self._one, kind, self.gen.pick_wallet(rng), due))
            k += 1

    def _one(self, kind: str, wallet: str, due: float) -> None:
        from spectraplex_spark import serving

        ctx = self.ctx
        self.late.append(time.perf_counter() - due)
        try:
            with ctx.tracer.span(f"serving.{kind}", spark=True, parent=self._parent) as c:
                rows = _read(serving, ctx.spark, kind, self.bronze, self.silver, wallet)
                c["rows_returned"] = len(rows)
            ok = kind in ("recent_transactions", "wallet_balances") or all(
                json.loads(r)["wallet_address"] == wallet for r in rows
            )
            ctx.ops.record(ok, f"read {kind}: foreign wallet in result")
        except Exception:  # noqa: BLE001 - counted; the other reads go on
            ctx.ops.record(False, f"read {kind}: {traceback.format_exc(limit=3)}")
        self.latency.append(time.perf_counter() - due)


def _read(serving, spark, kind: str, bronze: str, silver: str, wallet: str) -> list[str]:
    if kind == "ledger_by_wallet":
        df = serving.ledger_by_wallet(spark, silver, wallet)
    elif kind == "wallet_balances":
        df = serving.wallet_balances(spark, silver, wallet)
    elif kind == "transactions_by_wallet":
        df = serving.transactions_by_wallet(spark, bronze, wallet)
    else:
        df = serving.recent_transactions(spark, bronze)
    return serving.to_json_rows(df)


# ---------------------------------------------------------------------------
# Ledger helpers
# ---------------------------------------------------------------------------


def land_batch(spark, tracer, raw_path: str, bronze: str, silver: str, quarantine: str) -> dict:
    """One writer operation: conform + write_bronze, then land that batch's
    bronze rows into silver with the quarantine lane."""
    from spectraplex_spark.sources import write_bronze
    from spectraplex_spark.sources.ingest import RAW_FETCH_SCHEMA, conform_to_bronze
    from spectraplex_spark.sources.io import land_with_quarantine

    raw = spark.read.schema(RAW_FETCH_SCHEMA).json(raw_path)
    bronze_batch = conform_to_bronze(raw)
    with tracer.span("sources.write_bronze", spark=True) as c:
        appended = write_bronze(bronze_batch, bronze)
        c["rows_appended"] = appended
    with tracer.span("sources.land_with_quarantine", spark=True) as c:
        n_silver, n_bad = land_with_quarantine(bronze_batch, silver, quarantine)
        c["silver_rows"], c["quarantine_rows"] = n_silver, n_bad
    return {"bronze": appended, "silver": n_silver, "quarantine": n_bad}


def warm_up(spark, tracer, seed: int, work: str) -> dict:
    """The set-up's warm-up pass on tiny inputs: land one small batch and
    serve each read once from it. Its tables are what the catalog
    workload's reads serve from."""
    from spectraplex_spark import serving

    gen = inputs.LedgerGen(seed, WARMUP_BATCH_ROWS)
    os.makedirs(work, exist_ok=True)
    paths = {k: os.path.join(work, k) for k in ("bronze", "silver", "quarantine")}
    raw = os.path.join(work, "raw.jsonl")
    inputs.write_jsonl(raw, [tx.raw_row() for tx in gen.batch(0)])
    land_batch(spark, tracer, raw, paths["bronze"], paths["silver"], paths["quarantine"])
    for kind in READS:
        _read(serving, spark, kind, paths["bronze"], paths["silver"], gen.wallets[0])
    return paths


def _duck():
    import duckdb

    return duckdb.connect()


def _silver_glob(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning=true)"


def check_ledger(ops: Ops, silver: str, expected: dict, quarantine: str | None, bronze: str | None) -> None:
    """Silver (and quarantine, bronze) against the generator's closed form,
    read back with DuckDB."""
    from spectraplex_spark.sources.commit import validate_epochs

    con = _duck()
    src = _silver_glob(silver)
    ops.check(
        "silver row count",
        lambda: con.execute(f"SELECT count(*) FROM {src}").fetchone()[0] == expected["silver_rows"],
    )

    def entries_equal() -> bool:
        got = con.execute(
            f"SELECT id, transaction_id, wallet_address, asset_symbol, CAST(amount AS VARCHAR) FROM {src}"
        ).fetchall()
        want = [(e.id, e.transaction_id, e.wallet, e.asset, e.amount) for e in expected["entries"]]
        return sorted(got) == sorted(want)

    ops.check("silver entries equal the closed form", entries_equal)

    def sol_sums() -> bool:
        got = dict(
            con.execute(
                f"SELECT wallet_address, sum(amount) FROM {src} WHERE asset_symbol = 'SOL' GROUP BY 1"
            ).fetchall()
        )
        want = expected["sol_by_wallet"]
        return got.keys() == want.keys() and all(
            decimal.Decimal(got[w]) == want[w] for w in want
        )

    ops.check("per-wallet SOL sums", sol_sums)
    tables = [silver]
    if quarantine is not None:
        ops.check(
            "quarantine count",
            lambda: con.execute(f"SELECT count(*) FROM read_parquet('{quarantine}/*.parquet')").fetchone()[0]
            == expected["quarantine_rows"],
        )
        tables.append(quarantine)
    if bronze is not None:
        ops.check(
            "bronze count",
            lambda: con.execute(f"SELECT count(*) FROM {_silver_glob(bronze)}").fetchone()[0]
            == expected["bronze_rows"],
        )
        tables.append(bronze)
    for t in tables:
        ops.check(f"validate_epochs {os.path.basename(t)}", lambda t=t: not validate_epochs(t)["uncommitted"])
    con.close()


def silver_layout(silver: str) -> dict:
    """Data files and bytes per row of a silver table, counted on disk."""
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(silver)
        for f in fs
        if f.endswith(".parquet")
    ]
    size = sum(os.path.getsize(f) for f in files)
    return {
        "sources.silver.data_files": len(files),
        "sources.silver.bytes_per_row": ratio(size, _count(silver)),
    }


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


@dataclass
class Result:
    work_s: list[float]  # one sample per unit of work
    reader: Reader
    layer: dict  # per-layer figures that are not span aggregates


def ledger_ingest(ctx: Ctx) -> Result:
    from spectraplex_spark.streaming import read_bronze_stream, stream_normalize_to_silver

    gen = inputs.LedgerGen(ctx.seed, INGEST_BATCH_ROWS)
    n = PRIMING_BATCHES + INGEST_UNITS
    d = os.path.join(ctx.work, "ingest")
    bronze, silver, quarantine, landing, stream_silver, ckpt, raw_dir = (
        os.path.join(d, k)
        for k in ("bronze", "silver", "quarantine", "landing", "stream_silver", "ckpt", "raw")
    )
    os.makedirs(landing)
    os.makedirs(raw_dir)
    raw = [_write_raw(gen, raw_dir, b) for b in range(n)]
    reader = Reader(ctx, gen, bronze, silver)
    progress: list[dict] = []

    def arrive(b: int) -> None:
        """Put batch ``b``'s rows in the landing directory as one conformed
        bronze JSONL arrival."""
        inputs.write_jsonl(os.path.join(landing, f"a{b:04d}.json"), [tx.bronze_row() for tx in gen.batch(b)])

    def trigger() -> dict:
        with ctx.tracer.span("streaming.query"):
            t0 = time.perf_counter()
            q = stream_normalize_to_silver(read_bronze_stream(ctx.spark, landing), stream_silver, ckpt)
            with ctx.tracer.span("streaming.start", spark=True):
                handle = q.start()
            start_s = time.perf_counter() - t0
            with ctx.tracer.span("streaming.run") as c:
                handle.awaitTermination()
                # the query's jobs run on its own thread, in a job group
                # named by its run id
                ctx.tracer.count_group(c, str(handle.runId))
        return {"start_s": start_s, "progress": handle.recentProgress}

    # the priming batches land untimed: they create the tables the reads
    # serve from, and both paths pay their one-time costs on them
    for b in range(PRIMING_BATCHES):
        land_batch(ctx.spark, _NOTRACE, raw[b], bronze, silver, quarantine)
        arrive(b)
        trigger()

    times: list[float] = []
    reader.start()
    with ctx.tracer.span("ledger_ingest.writer"):
        for b in range(PRIMING_BATCHES, n):
            arrive(b)  # read only when the trigger below starts
            t0 = time.perf_counter()
            with ctx.tracer.span("ledger_ingest.batch") as c:
                c["rows_offered"] = INGEST_BATCH_ROWS
                try:
                    land_batch(ctx.spark, ctx.tracer, raw[b], bronze, silver, quarantine)
                    ctx.ops.record(True, "")
                except Exception:  # noqa: BLE001
                    ctx.ops.record(False, f"land batch {b}: {traceback.format_exc(limit=3)}")
                try:
                    progress.append(trigger())
                    ctx.ops.record(True, "")
                except Exception:  # noqa: BLE001
                    ctx.ops.record(False, f"arrival {b}: {traceback.format_exc(limit=3)}")
            times.append(time.perf_counter() - t0)
    reader.finish()

    # checks: both silvers equal the closed form (so each other), and a
    # replay of every batch through either path appends nothing
    expected = gen.expected(n)
    check_ledger(ctx.ops, silver, expected, quarantine, bronze)
    check_ledger(ctx.ops, stream_silver, expected, None, None)
    ctx.ops.check(
        "batch replay appends 0 rows",
        lambda: land_batch(ctx.spark, _NOTRACE, raw_dir, bronze, silver, quarantine)
        == {"bronze": 0, "silver": 0, "quarantine": 0},
    )

    def stream_replay_is_noop() -> bool:
        replay = [tx for b in range(n) for tx in gen.batch(b)]
        inputs.write_jsonl(os.path.join(landing, "replay.json"), [tx.bronze_row() for tx in replay])
        trigger()
        return _count(stream_silver) == expected["silver_rows"]

    ctx.ops.check("stream replay appends 0 rows", stream_replay_is_noop)
    layer = silver_layout(silver)
    layer["sources.write_bronze.rows_offered"] = INGEST_BATCH_ROWS
    layer.update(_stream_layer(progress))
    return Result(times, reader, layer)


def _write_raw(gen: inputs.LedgerGen, raw_dir: str, b: int) -> str:
    path = os.path.join(raw_dir, f"raw-{b:04d}.jsonl")
    inputs.write_jsonl(path, [tx.raw_row() for tx in gen.batch(b)])
    return path


def _count(table: str) -> int:
    con = _duck()
    try:
        return con.execute(f"SELECT count(*) FROM {_silver_glob(table)}").fetchone()[0]
    finally:
        con.close()


def _stream_layer(progress: list[dict]) -> dict:
    if not progress:
        return {}
    out = {"streaming.start_s": median([p["start_s"] for p in progress])}
    for phase in STREAM_PHASES:
        out[f"streaming.{phase}_ms"] = median(
            [sum(t["durationMs"].get(phase, 0) for t in p["progress"]) for p in progress]
        )
    out["streaming.triggers_per_arrival"] = median([len(p["progress"]) for p in progress])
    return out


def catalog_headline(ctx: Ctx) -> Result:
    """One pass: the first run of each plan in the session is what a
    scheduled batch job pays, and later passes would time a warm JIT
    instead, so a run makes exactly one pass. The DuckDB twins run after
    it, so they never compete with it for cores."""
    from spectraplex_spark.plans import CATALOG

    flagged = {q.name for q in CATALOG.values() if q.bench}
    if flagged != set(HEADLINE):
        raise SystemExit(
            f"bench=True catalog entries drifted from the headline set: "
            f"{sorted(flagged ^ set(HEADLINE))}"
        )
    sf = os.path.join(ctx.work, "catalog")
    inputs.write_catalog_tables(sf, ctx.seed)
    gen = inputs.LedgerGen(ctx.seed, WARMUP_BATCH_ROWS)  # the warm-up ledger's wallets
    reader = Reader(ctx, gen, ctx.warm["bronze"], ctx.warm["silver"])
    order = list(HEADLINE)
    random.Random(f"{ctx.seed}:catalog").shuffle(order)
    results: dict = {}
    plans: dict[str, str] = {}

    reader.start()
    t_pass = time.perf_counter()
    with ctx.tracer.span("catalog_headline.pass"):
        for name in order:
            try:
                with ctx.tracer.span(f"plans.{name}", spark=True):
                    df = CATALOG[name].builder(ctx.spark, sf)
                    results[name] = df.toPandas()
                ctx.ops.record(True, "")
                if ctx.tracer.enabled:
                    plans[name] = df._jdf.queryExecution().executedPlan().toString()
            except Exception:  # noqa: BLE001 - the parity check below fails too
                results[name] = traceback.format_exc(limit=3)
                ctx.ops.record(False, f"{name}: {results[name]}")
            _drop_cached(ctx.spark)
    times = [time.perf_counter() - t_pass]
    reader.finish()

    try:
        want = _oracle_results(sf)
    except Exception:  # noqa: BLE001 - every parity check below fails
        traceback.print_exc()
        want = {}
    for name in HEADLINE:
        ctx.ops.check(f"oracle parity {name}", lambda n=name: _same_result(results[n], want[n]))
    layer = silver_layout(ctx.warm["silver"])
    for name, plan in plans.items():
        layer[f"plans.{name}.hash_exchanges"] = plan.count("Exchange hashpartitioning")
        layer[f"plans.{name}.plan_breaks"] = plan.count("ExistingRDD")
    return Result(times, reader, layer)


def _drop_cached(spark) -> None:
    """Drop what the queries persisted, so every query starts cold."""
    spark.catalog.clearCache()
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(True)


def _cell(v):
    """Type-tagged, hashable cell (Decimal and float never compare equal),
    as the package's oracle-parity gate canonicalizes."""
    import datetime

    import numpy as np
    import pandas as pd

    hash(v)
    if v is None or v is pd.NaT:
        return ("null",)
    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return ("float", "nan") if math.isnan(f) else ("float", f)
    if isinstance(v, (bool, np.bool_)):
        return ("bool", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("int", int(v))
    if isinstance(v, pd.Timestamp):
        return ("ts", v.to_pydatetime().replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("ts", datetime.datetime(v.year, v.month, v.day).isoformat())
    return (type(v).__name__, v)


def _column(col) -> list:
    """``_cell`` of every value of a column; numeric columns and strings
    take a fast path that gives the same cells (normalize_throughput
    returns 200k rows of 9 columns)."""
    kind = col.dtype.kind
    if kind == "f":
        return [("float", "nan") if math.isnan(f) else ("float", f) for f in col.tolist()]
    if kind in "iu":
        return [("int", i) for i in col.tolist()]
    if kind == "b":
        return [("bool", b) for b in col.tolist()]
    return [("str", v) if type(v) is str else _cell(v) for v in col]


def _canon(pdf) -> Counter:
    """The result's rows as a multiset of type-tagged cells, columns in
    name order."""
    return Counter(zip(*(_column(pdf[c]) for c in sorted(pdf.columns))))


def _oracle_results(sf: str) -> dict:
    """Every headline query's DuckDB twin over the same tables."""
    import duckdb

    from spectraplex_spark.plans import CATALOG

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    try:
        return {n: con.execute(CATALOG[n].oracle).df() for n in HEADLINE}
    finally:
        con.close()


def _same_result(got, want) -> bool:
    if isinstance(got, str):
        raise RuntimeError(got)
    got.columns = [c.lower() for c in got.columns]
    want.columns = [c.lower() for c in want.columns]
    return sorted(got.columns) == sorted(want.columns) and _canon(got) == _canon(want)


_NOTRACE = Tracer(False, "untraced")

WORKLOADS = {"ledger_ingest": ledger_ingest, "catalog_headline": catalog_headline}
