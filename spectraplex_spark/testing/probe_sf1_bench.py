"""sf1-equivalent bench probe (r6 verdict stretch item): replicate the
sf0.1 tables 10× (shifted keys, perturbed replica text) and run the
COMPLETE headline set plus the 10 most expensive non-headline graded
queries at both scales, recording per-query scaling exponents
(log10(t10x / t1x) — 1.0 = linear, 0 = flat).

Run:  python -m spectraplex_spark.testing.probe_sf1_bench
Results are recorded in BASELINE.md.

Replication scheme (documented so the exponents are interpretable):
  - facts scale 10×: lineitem/orders shift orderkeys by i·10⁷ per
    replica (join integrity preserved within a replica); events shift
    event_id and keep user_id (10× events per user — the serving-skew
    shape); documents shift doc_id and append a per-replica token to
    text (replicas are NEAR-dups, not exact — exact-dedup must not
    collapse the corpus back to 1×); embeddings shift vec_id.
  - dimensions (customer/supplier/part/nation/region) stay 1× — fact
    rows per dimension key grow 10×, the realistic shape (TPC-H scales
    dims too, but dim scans are noise here; what the probe must stress
    is fact-side shuffle and join volume).
  - planted-view queries (…_planted, simhash twins) are EXCLUDED at
    10×: their headroom guards correctly refuse shifted-id corpora
    (ids ≥ twin offset), and their planted restrictions make them
    diagnostics, not scale paths.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time

from pyspark.sql import functions as F

SRC = "/root/testdata/sf0.1"
DST = "/tmp/sf1.0"  # parses as sf=1.0 (normalize_throughput scales its
# synthetic generator by the dir-name SF — 10x rows at sf1.0, as intended)
FACTOR = 10
OFF = 10_000_000
# embeddings replicas shift by only 2k per replica (organic vec_id < 2k):
# the planted-view headroom guards require organic ids < the 100k twin
# offset, and the guard firing on 10^7-shifted ids — correctly — was
# masking the family's scaling numbers
OFF_BY_TABLE = {"embeddings": 2_000}

SHIFT_COLS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["customer", "supplier", "part", "nation", "region"]


def build_replicated(spark, factor: int = FACTOR) -> None:
    if os.path.exists(DST):
        shutil.rmtree(DST)
    os.makedirs(DST)
    for t in DIMS:
        shutil.copy(f"{SRC}/{t}.parquet", f"{DST}/{t}.parquet")
    for t, keys in SHIFT_COLS.items():
        base = spark.read.parquet(f"{SRC}/{t}.parquet")
        reps = []
        for i in range(factor):
            r = base
            for k in keys:
                r = r.withColumn(k, F.col(k) + F.lit(i * OFF_BY_TABLE.get(t, OFF)))
            if t == "documents" and i > 0:
                # near-dup replicas: one appended token per replica so
                # exact dedup keeps them and near-dup machinery works
                r = r.withColumn("text", F.concat_ws(" ", "text", F.lit(f"rtok{i}")))
            reps.append(r)
        out = reps[0]
        for r in reps[1:]:
            out = out.unionByName(r)
        out.write.mode("overwrite").parquet(f"{DST}/{t}.parquet")


def main() -> None:
    sys.path.insert(0, "/root/repo")
    import bench  # reuse run_query/_drop_cached and the session recipe
    from spectraplex_spark.plans import CATALOG
    from spectraplex_spark.session import get_spark

    spark = get_spark(
        "probe_sf1_bench",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "8")),
        extra_conf={"spark.sql.files.maxPartitionBytes": "16m"},
    )
    print("building 10x replicated tables at", DST, flush=True)
    t0 = time.time()
    build_replicated(spark)
    print(f"built in {time.time() - t0:.1f}s", flush=True)

    headline = [n for n, q in CATALOG.items() if q.bench]
    skip_10x_markers = ("_planted", "planted_", "simhash")
    # phase A: one timed pass over every catalog query at sf0.1 to find
    # the most expensive non-headline entries (warmup at sf0.001 first)
    costs: dict[str, float] = {}
    only_mode = len(sys.argv) > 1 and sys.argv[1] == "--only"
    for name, q in ({} if only_mode else CATALOG).items():
        try:
            q.builder(spark, "/root/testdata/sf0.001").write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass
        try:
            costs[name] = bench.run_query(q, spark, SRC)
        except Exception as e:  # noqa: BLE001 — record and move on
            print(f"  phase-A skip {name}: {type(e).__name__}", flush=True)
    ranked = sorted(
        (
            (t, n)
            for n, t in costs.items()
            if n not in headline and not any(m in n for m in skip_10x_markers)
        ),
        reverse=True,
    )
    top10 = [n for _, n in ranked[:10]]
    print("\nphase A: top-15 most expensive at sf0.1 (all queries):")
    for t, n in sorted(((t, n) for n, t in costs.items()), reverse=True)[:15]:
        print(f"  {n}: {t:.2f}s")

    targets = headline + top10
    if len(sys.argv) > 1 and sys.argv[1] == "--only":
        targets = sys.argv[2].split(",")
    print("\nphase B targets:", targets, flush=True)
    rows = []
    for name in targets:
        q = CATALOG[name]
        t1 = min(bench.run_query(q, spark, SRC) for _ in range(2))
        try:
            t10 = min(bench.run_query(q, spark, DST) for _ in range(2))
            expo = math.log10(max(t10, 1e-9) / max(t1, 1e-9))
            rows.append((name, t1, t10, expo))
        except Exception as e:  # noqa: BLE001
            rows.append((name, t1, None, None))
            print(f"  10x failed {name}: {type(e).__name__}: {e}", flush=True)

    print("\n### sf1-equivalent scaling (10x replicated sf0.1)")
    print("| query | sf0.1 s | 10x s | exponent (1.0=linear) |")
    print("|---|---|---|---|")
    for name, t1, t10, expo in rows:
        if t10 is None:
            print(f"| {name} | {t1:.2f} | n/a | n/a |")
        else:
            print(f"| {name} | {t1:.2f} | {t10:.2f} | {expo:.2f} |")


if __name__ == "__main__":
    main()
