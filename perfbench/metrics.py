"""The benchmark's metrics: names, units, and how each is computed.

``END_TO_END`` and ``PER_LAYER`` are the lists ``BENCHMARK.json``
declares (a test keeps the two in step). End-to-end metrics come from
untraced passes and every workload reports all of them; per-layer
metrics come from the traced run and are 0 where a layer is not
exercised by the workload.
"""

from __future__ import annotations

import math
import statistics

from .workloads import LLM_QUERIES

# name -> unit; every end-to-end metric is a time, lower is better
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
}

# name -> (unit, better)
PER_LAYER: dict[str, tuple[str, str]] = {
    "watermark.read_s": ("s", "lower"),
    "watermark.read_calls": ("count", "lower"),
    "ingest.s": ("s", "lower"),
    "ingest.calls": ("count", "lower"),
    "ingest.replay_s": ("s", "lower"),
    "ingest.rows_loaded": ("count", "higher"),
    "ingest.rows_dead_lettered": ("count", "higher"),
    "ingest.jobs": ("count", "lower"),
    "ingest.tasks": ("count", "lower"),
    "ingest.shuffle_write_bytes": ("B", "lower"),
    "ingest.files_written": ("count", "lower"),
    "deadletter.novel_ratio": ("1", "higher"),
    "silver.s": ("s", "lower"),
    "silver.rows": ("count", "higher"),
    "silver.jobs": ("count", "lower"),
    "silver.tasks": ("count", "lower"),
    "silver.shuffle_write_bytes": ("B", "lower"),
    "silver.spill_bytes": ("B", "lower"),
    "silver.bronze_bytes_in": ("B", "lower"),
    "gold.s": ("s", "lower"),
    "gold.jobs": ("count", "lower"),
    "gold.tasks": ("count", "lower"),
    "query.plans.s": ("s", "lower"),
    "query.plans.jobs": ("count", "lower"),
    "query.plans.tasks": ("count", "lower"),
    "query.llm.s": ("s", "lower"),
    "query.llm.jobs": ("count", "lower"),
    "query.llm.tasks": ("count", "lower"),
    "query.llm.shuffle_write_bytes": ("B", "lower"),
    **{
        f"query.{n}.{k}": (u, "lower")
        for n in LLM_QUERIES
        for k, u in (("s", "s"), ("jobs", "count"))
    },
    "calls.geomean_s": ("s", "lower"),
    "floor.noop_s": ("s", "lower"),
    "sources.gen_s": ("s", "lower"),
    "jvm.peak_rss_mb": ("MiB", "lower"),
    "trace.overhead_frac": ("1", "lower"),
    "medallion.rows_per_s": ("1/s", "higher"),
    "medallion.batch_p50_s": ("s", "lower"),
    "medallion.refresh_s": ("s", "lower"),
    "medallion.stored_bytes_per_row": ("B", "lower"),
    "host.loadavg": ("1", "lower"),
    "host.steal_frac": ("1", "lower"),
    "host.iowait_frac": ("1", "lower"),
}


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def median_wall(passes) -> float:
    return statistics.median(p.seconds for p in passes)


def op_latencies(passes) -> list[float]:
    """Latency of every timed call into the program that runs Spark
    work: each query, and each medallion call except the watermark read
    (a parquet footer read on the driver)."""
    return [op.seconds for p in passes for op in p.ops if op.kind != "watermark"]


def end_to_end(setup_s: float, passes) -> dict[str, float]:
    return {"setup_s": setup_s, "wall_s": median_wall(passes)}


def summary(wl, passes) -> dict[str, float]:
    """Untimed-run numbers that are not end-to-end metrics: the geometric
    mean call latency (sensitive to the per-job floor, but too sensitive
    to host load to carry a bound), and for the medallion the distinct
    rows a pass lands in silver per second of pass, the median
    first-time ``ingest_batch``, refresh time (silver, dims and views,
    view reads) and warehouse bytes per silver row, which the query mix
    has no counterpart for."""
    calls = {"calls.geomean_s": geomean(op_latencies(passes))}
    if not hasattr(wl, "expected"):
        return calls
    rows = wl.expected.silver_rows
    landed = sum(wl.expected.added[m] for m in wl.plan.months)
    return {
        **calls,
        "medallion.rows_per_s": landed / median_wall(passes),
        "medallion.batch_p50_s": statistics.median(
            op.seconds for p in passes for op in p.ops if op.kind == "ingest"
        ),
        "medallion.refresh_s": statistics.median(
            sum(op.seconds for op in p.ops if op.kind in ("silver", "gold")) for p in passes
        ),
        "medallion.stored_bytes_per_row": statistics.median(
            wl.stored_bytes(p) for p in passes
        )
        / rows,
    }


def per_layer(wl, tracer, passes, counts: dict[int, dict]) -> dict[str, float]:
    """Layer totals per traced pass: span time (spans do not nest, so
    this is self time), and the Spark work (``counts``, from the event
    log) of the spans of each layer."""
    n = max(1, len(passes))
    spans = [s for s in tracer.spans if "kind" in s.attrs]

    def total(pred, key: str = "s") -> float:
        out = 0.0
        for s in spans:
            if pred(s):
                if key == "s":
                    out += s.seconds
                elif key == "calls":
                    out += 1
                elif key in s.attrs:
                    out += s.attrs[key]
                else:
                    out += counts.get(s.sid, {}).get(key, 0)
        return out / n

    def kind(*ks):
        return lambda s: s.attrs["kind"] in ks

    def query(layer=None, name=None):
        return lambda s: s.attrs["kind"] == "query" and s.layer == (layer or s.layer) and s.name == (
            name or s.name
        )

    ingest = kind("ingest", "replay")
    m = {
        "watermark.read_s": total(kind("watermark")),
        "watermark.read_calls": total(kind("watermark"), "calls"),
        "ingest.s": total(kind("ingest")),
        "ingest.calls": total(ingest, "calls"),
        "ingest.replay_s": total(kind("replay")),
        "ingest.jobs": total(ingest, "jobs"),
        "ingest.tasks": total(ingest, "tasks"),
        "ingest.shuffle_write_bytes": total(ingest, "shuffle_write_bytes"),
        "silver.s": total(kind("silver")),
        "silver.jobs": total(kind("silver"), "jobs"),
        "silver.tasks": total(kind("silver"), "tasks"),
        "silver.shuffle_write_bytes": total(kind("silver"), "shuffle_write_bytes"),
        "silver.spill_bytes": total(kind("silver"), "spill_bytes"),
        "silver.bronze_bytes_in": total(kind("silver"), "scan_bytes"),
        "gold.s": total(kind("gold")),
        "gold.jobs": total(kind("gold"), "jobs"),
        "gold.tasks": total(kind("gold"), "tasks"),
    }
    for layer in ("plans", "llm"):
        for key in ("s", "jobs", "tasks"):
            m[f"query.{layer}.{key}"] = total(query(layer=layer), key)
    m["query.llm.shuffle_write_bytes"] = total(query(layer="llm"), "shuffle_write_bytes")
    for name in LLM_QUERIES:
        m[f"query.{name}.s"] = total(query(name=name))
        m[f"query.{name}.jobs"] = total(query(name=name), "jobs")

    loaded = dead = files = 0
    for p in passes:
        for r in list(p.extra.get("loads", {}).values()) + list(p.extra.get("replays", {}).values()):
            loaded += r.loaded
            dead += r.dead_lettered
        if "warehouse" in p.extra:
            files += wl.data_files(p.extra["warehouse"]) - wl.base_files
    exp = getattr(wl, "expected", None)
    offered = 0
    if exp is not None:
        # each timed month's batch is offered twice: the load and its replay
        offered = sum(exp.early_offered[mo] for mo in wl.plan.months) * 2 * len(passes)
    m["ingest.rows_loaded"] = loaded / n
    m["ingest.rows_dead_lettered"] = dead / n
    m["ingest.files_written"] = files / n
    m["deadletter.novel_ratio"] = dead / offered if offered else 0.0
    m["silver.rows"] = float(exp.silver_rows) if exp is not None else 0.0
    # written once per run, not per pass
    m["sources.gen_s"] = sum(s.seconds for s in spans if s.attrs["kind"] == "source")
    return m


def empty_per_layer() -> dict[str, float]:
    return dict.fromkeys(PER_LAYER, 0.0)


def unit(name: str) -> str:
    return END_TO_END.get(name) or PER_LAYER[name][0]


def sample_counts(passes) -> str:
    walls = ", ".join(f"{p.seconds:.3f}" for p in passes)
    return (
        f"wall_s: median of {len(passes)} passes ({walls}); calls.geomean_s: over "
        f"{len(op_latencies(passes))} calls; setup_s: 1 per run"
    )
