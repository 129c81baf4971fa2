"""Per-layer figures of a traced run, from its spans.

Every workload reports every figure; a layer the workload never calls
reads 0. Per-call figures are medians over the run's calls; ratios are
taken over the run's totals. The end-to-end figure each one should move
is listed in README.md.
"""

from __future__ import annotations

from stats import core_util, median, ratio
from workloads import HEADLINE, READS, STREAM_PHASES

_SPARK = ("jobs", "tasks", "exec_run_ms", "shuffle_write_bytes")
_UNITS = {"s": "s", "core_util": "ratio", "bytes_per_row": "bytes/row"}
_SUFFIX_UNITS = (("_s", "s"), ("_ms", "ms"), ("_mb", "MB"), ("_bytes", "bytes"), ("_ratio", "ratio"))


def names() -> list[str]:
    out = ["session.get_spark_s", "session.warmup_s", "session.jvm_peak_rss_mb"]
    out += [f"sources.write_bronze.{k}" for k in ("s", *_SPARK, "rows_offered", "rows_appended", "append_useful_ratio")]
    out += [f"sources.land_with_quarantine.{k}" for k in ("s", *_SPARK, "silver_rows", "quarantine_rows")]
    out += ["sources.silver.data_files", "sources.silver.bytes_per_row"]
    out += [f"serving.{r}.{k}" for r in READS for k in ("s", "jobs", "rows_returned")]
    out += ["serving.generator_late_s"]
    out += ["streaming.start_s", *(f"streaming.{p}_ms" for p in STREAM_PHASES), "streaming.triggers_per_arrival"]
    out += [
        f"plans.{q}.{k}"
        for q in HEADLINE
        for k in ("s", *_SPARK, "core_util", "hash_exchanges", "plan_breaks")
    ]
    return out


def unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    if leaf in _UNITS:
        return _UNITS[leaf]
    for suffix, u in _SUFFIX_UNITS:
        if leaf.endswith(suffix):
            return u
    return "count"


def _calls(spans: list[dict], name: str, rows: tuple[str, ...] = ()) -> dict:
    """Per-call medians of the spans called ``name``: time, Spark counters
    and the given row counts."""
    mine = [s for s in spans if s["name"] == name]
    if not mine:
        return {}
    out = {f"{name}.s": median([s["end"] - s["start"] for s in mine])}
    for k in (*_SPARK, *rows):
        out[f"{name}.{k}"] = median([s["counts"].get(k, 0) for s in mine])
    return out


def per_layer(spans: list[dict], layer: dict, late: list[float], get_spark_s: float, warmup_s: float,
              cores: int) -> dict:
    m = dict.fromkeys(names(), 0)
    m["session.get_spark_s"] = get_spark_s
    m["session.warmup_s"] = warmup_s

    # only the workload's own calls, not the warm-up's
    by_id = {s["id"]: s for s in spans}
    own = [s for s in spans if not _under(by_id, s, "session.warmup")]
    m.update(_calls(own, "sources.write_bronze", ("rows_appended",)))
    m.update(_calls(own, "sources.land_with_quarantine", ("silver_rows", "quarantine_rows")))
    offered = sum(s["counts"]["rows_offered"] for s in own if s["name"] == "ledger_ingest.batch")
    appended = sum(s["counts"].get("rows_appended", 0) for s in own if s["name"] == "sources.write_bronze")
    m["sources.write_bronze.append_useful_ratio"] = ratio(appended, offered)
    for r in READS:
        calls = _calls(own, f"serving.{r}", ("rows_returned",))
        m.update({k: v for k, v in calls.items() if k.rsplit(".", 1)[1] in ("s", "jobs", "rows_returned")})
    if late:
        m["serving.generator_late_s"] = median(late)
    for q in HEADLINE:
        calls = [s for s in own if s["name"] == f"plans.{q}"]
        if not calls:
            continue
        m.update(_calls(own, f"plans.{q}"))
        wall_ms = sum(s["end"] - s["start"] for s in calls) * 1000
        run_ms = sum(s["counts"].get("exec_run_ms", 0) for s in calls)
        m[f"plans.{q}.core_util"] = core_util(run_ms, wall_ms, cores)
    m.update({k: v for k, v in layer.items() if k in m})
    return m


def _under(by_id: dict, span: dict, name: str) -> bool:
    p = span
    while p is not None:
        if p["name"] == name:
            return True
        p = by_id.get(p["parent"])
    return False
