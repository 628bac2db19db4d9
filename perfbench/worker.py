"""The timed process of one benchmark run (started by run.py).

Set-up (process start → session → input registration → the
workload's warm-up, if any), then timed cycles until their summed
wall time reaches ``--seconds`` and their number is a multiple of the
workload's ``PERIOD``, then the output checks, then the result as JSON
in ``--out``. Between cycles, outside the timers, it settles writeback
(``os.sync``) and requests a JVM and a Python GC.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.getcwd())  # the checkout root holds the package

import procstat  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

# per-span counters worth reporting for the heaviest spans of each layer
SPAN_COUNTERS = ("run_ms", "cpu_ms", "gc_ms", "shuffle_bytes", "tasks")
COUNTED_SPANS = (
    "sources.writers.write", "operators.dq.expect", "plans.dashboards",
    "operators.neardup.minhash_lsh", "operators.neardup.embedding_pairs",
    "operators.cluster.dedup_clusters", "operators.kmeans.pq_encode",
    "operators.kmeans.pq_search",
    "operators.similarity.topk", "multimodal.phash_dedup",
    "sources.deltalog.merge", "streaming.cdf_source.drain",
    "streaming.gold_maintenance.read_rollup",
)
PYTHON_LAYERS = ("sources", "plans", "operators", "multimodal", "streaming")
# work that a cdc run does every third batch: reported as its mean cost
# per batch, since the median batch does none of it
PERIODIC = ("sources.deltalog.checkpoint_s", "streaming.gold_maintenance.compact_s")


def settle(spark) -> None:
    os.sync()
    spark._jvm.System.gc()
    gc.collect()


def _silver(d: str) -> bool:
    return d.startswith("silver/")


def _gold(d: str) -> bool:
    return d.startswith("gold/")


def layer_metrics(s: spans.Scope) -> dict[str, float]:
    """Per-layer values of one timed cycle (0 where a workload does
    not use the layer)."""
    w = "sources.writers.write"
    files = s.attr(w, "files")
    m = {
        "sources.catalog.load_s": s.seconds("sources.catalog.load"),
        "sources.catalog.input_bytes": s.attr("sources.catalog.load", "bytes"),
        "sources.writers.write_s": s.seconds(w),
        "sources.writers.files_written": files,
        "sources.writers.bytes_per_file": s.attr(w, "bytes") / files if files else 0.0,
        "sources.writers.write_tasks": s.counter(w, "tasks"),
        "sources.writers.count_s": s.seconds("sources.writers.count"),
        "sources.writers.read_s": s.seconds("sources.writers.read"),
        "plans.silver.exec_s": s.seconds(w, _silver),
        "plans.silver.cpu_ms": s.counter(w, "cpu_ms", _silver),
        "plans.silver.shuffle_bytes": s.counter(w, "shuffle_bytes", _silver),
        "plans.gold.exec_s": s.seconds(w, _gold),
        "plans.gold.cpu_ms": s.counter(w, "cpu_ms", _gold),
        "plans.gold.shuffle_bytes": s.counter(w, "shuffle_bytes", _gold),
        "operators.dq.expect_s": s.seconds("operators.dq.expect"),
        "operators.dq.jobs": s.counter("operators.dq.expect", "jobs"),
        "operators.neardup.minhash_lsh_s": s.seconds("operators.neardup.minhash_lsh"),
        "operators.neardup.embedding_pairs_s": s.seconds("operators.neardup.embedding_pairs"),
        "operators.cluster.dedup_clusters_s": s.seconds("operators.cluster.dedup_clusters"),
        "operators.cluster.jobs": s.counter("operators.cluster.dedup_clusters", "jobs"),
        "operators.kmeans.fit_s": s.seconds("operators.kmeans.fit"),
        "operators.kmeans.fit_jobs": s.counter("operators.kmeans.fit", "jobs"),
        "operators.kmeans.pq_encode_s": s.seconds("operators.kmeans.pq_encode"),
        "operators.kmeans.pq_search_s": s.seconds("operators.kmeans.pq_search"),
        "operators.similarity.topk_s": s.seconds("operators.similarity.topk"),
        "multimodal.phash_dedup_s": s.seconds("multimodal.phash_dedup"),
        "sources.deltalog.merge_s": s.seconds("sources.deltalog.merge"),
        "sources.deltalog.checkpoint_s": s.seconds("sources.deltalog.checkpoint"),
        "sources.deltalog.log_bytes": s.attr("sources.deltalog.merge", "log_bytes"),
        "sources.deltalog.files_rewritten_ratio":
            s.attr("sources.deltalog.merge", "files_rewritten_ratio"),
        "sources.deltalog.write_amp": s.attr("sources.deltalog.merge", "write_amp"),
        "streaming.cdf_source.drain_s": s.seconds("streaming.cdf_source.drain"),
        "streaming.gold_maintenance.read_rollup_s":
            s.seconds("streaming.gold_maintenance.read_rollup"),
        "streaming.gold_maintenance.compact_s":
            s.seconds("streaming.gold_maintenance.compact"),
    }
    tiles = ("product_performance", "sales_overview", "site_wide_funnel", "customer_360")
    for tile in tiles:
        m[f"plans.dashboards.{tile}_s"] = s.seconds(f"plans.dashboards.{tile}")
    in_tiles = [f"plans.dashboards.{t}" for t in tiles]
    m["plans.dashboards.scan_tasks"] = sum(s.counter(t, "tasks") for t in in_tiles)
    m["plans.dashboards.input_bytes"] = sum(s.counter(t, "input_bytes") for t in in_tiles)
    for layer in PYTHON_LAYERS:
        m[f"{layer}.python_ms"] = s.layer_self(layer + ".", "python_ms")
    for name in COUNTED_SPANS:
        names = in_tiles if name == "plans.dashboards" else [name]
        for c in SPAN_COUNTERS:
            key = f"{name}.{c}"
            if key in ("sources.writers.write.tasks", "plans.dashboards.tasks"):
                continue  # reported above as write_tasks / scan_tasks
            m[key] = sum(s.counter(n, c) for n in names)
    return m


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--in-dir", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--eventlog-dir", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    from ecommerce_lakehouse_platform_spark import session

    class Ctx:
        seed, in_dir, run_dir = a.seed, a.in_dir, a.run_dir
        tracer = spans.Tracer(enabled=bool(a.trace))

    tracer = Ctx.tracer
    w = workloads.WORKLOADS[a.workload](Ctx)
    if tracer.enabled:
        tracer.wrap(session, "get_spark", "session.get_spark")
        w.instrument()
    nproc = len(os.sched_getaffinity(0))
    stamp = {"nproc": nproc, "seed": a.seed, "loadavg_start": os.getloadavg()}
    spark = session.get_spark(app_name=f"perfbench-{a.workload}", cpus=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    tracer.sc = spark.sparkContext
    # A warm-up that raises counts as failed ops, like a cycle; so do
    # Python workers that cannot import the package (the curation and
    # cdc cycles need them).
    attempted = failed = 0
    w.register(spark)
    try:
        with tracer.span("warm_up"):
            w.warm_up()
    except Exception:
        traceback.print_exc()
        attempted = failed = len(w.OPS)
    setup_s = time.time() - a.spawned_at
    stamp["params"] = getattr(w, "params", {})
    stamp["pyspark"] = spark.version
    stamp["java"] = spark._jvm.System.getProperty("java.version")

    cycles, timed = [], 0.0
    while timed < a.seconds or not cycles or len(cycles) % w.PERIOD:
        i = len(cycles)
        t0 = time.perf_counter()
        try:
            w.prepare(i)
            settle(spark)
            cpu0 = procstat.cpu_seconds()
            with tracer.span("cycle", str(i)) as span:
                rec = w.cycle(i)
            rec.update(cpu_s=procstat.cpu_seconds() - cpu0, span=span)
        except Exception:
            traceback.print_exc()
            rec = {"ops": list(w.OPS), "error": True,
                   "wall_s": time.perf_counter() - t0}
        timed += rec["wall_s"]
        cycles.append(rec)
    attempted += sum(len(c["ops"]) for c in cycles)
    failed += sum(len(c["ops"]) for c in cycles if c.get("error"))
    try:
        failed += len(w.check())
    except Exception:
        traceback.print_exc()
        failed = attempted
    counts = {}
    if tracer.enabled and w.kept and hasattr(w, "counts"):
        counts = w.counts()
    w.close()
    spark.stop()
    stamp["loadavg_end"] = os.getloadavg()

    ok = [c for c in cycles if not c.get("error")]
    parts = {k: [c[k] for c in ok] for k in
             ("refresh_s", "dashboard_s", "curate_s", "batch_s") if ok and k in ok[0]}
    end_to_end = {
        "setup_s": (setup_s, "s", 1),
        "cycle_s": (_median([c["wall_s"] for c in ok]), "s", len(ok)),
        "cpu_s": (_median([c["cpu_s"] for c in ok]), "s", len(ok)),
    }
    detail = {k: (_median(v), "s", len(v)) for k, v in parts.items() if k != "batch_s"}
    if "batch_s" in parts:
        b = parts["batch_s"]
        detail["batch_p50_s"] = (_median(b), "s", len(b))
        detail["batch_p90_s"] = (
            statistics.quantiles(b, n=10)[-1] if len(b) > 1 else _median(b), "s", len(b))
    detail["fail_ratio"] = (failed / attempted, "ratio", attempted)
    result = {
        "attempted": attempted, "failed": failed,
        "end_to_end": end_to_end, "detail": detail, "stamp": stamp,
    }
    if tracer.enabled:
        tracer.attribute(a.eventlog_dir)
        tracer.self_times()
        per_cycle = [layer_metrics(spans.Scope(tracer.descendants(c["span"])))
                     for c in ok if c["span"] is not None]
        names = per_cycle[0].keys() if per_cycle else layer_metrics(spans.Scope([])).keys()
        layers = {n: (statistics.fmean if n in PERIODIC else _median)(
            [m[n] for m in per_cycle] or [0.0]) for n in names}
        layers["session.get_spark_s"] = _median([
            s["end"] - s["start"] for s in tracer.spans if s["name"] == "session.get_spark"])
        cands, verified = counts.get("candidate_pairs", 0), counts.get("verified_pairs", 0)
        layers["operators.neardup.candidate_pairs"] = cands
        layers["operators.neardup.verified_pairs"] = verified
        layers["operators.neardup.verify_ratio"] = verified / cands if cands else 0.0
        layers["operators.cluster.kept_ratio"] = counts.get("kept_ratio", 0.0)
        result["per_layer"] = layers
        writes = {}
        for c in ok:
            for s in tracer.descendants(c["span"]):
                if s["name"] == "sources.writers.write":
                    writes.setdefault(s["detail"], []).append(s["end"] - s["start"])
        result["top_writes"] = sorted(
            ((d, _median(v)) for d, v in writes.items()), key=lambda x: -x[1])
        result["trace_file"] = a.out + ".spans.json"
        tracer.dump(result["trace_file"])
    with open(a.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
