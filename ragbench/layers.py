"""Per-layer metrics of a traced run.

Span timings are seconds per call. Counts and Spark totals are per
measured traced unit (one ``prepare_corpus`` + action, or one search).
The ingest layers (run_once, chunk_text, sinks writes, ledger,
streaming) come from one traced drain of the rag_search backlog. A
metric of a layer the workload never calls reads 0; ``PER_LAYER``
names the workloads on which each metric must be non-zero.
"""

from __future__ import annotations

import statistics

from .spans import EventLog, Tracer, busy_seconds, spark_totals

CP, RAG = ("corpus_prep",), ("rag_search",)
BOTH = CP + RAG

# metric -> (unit, workloads on which it must be non-zero)
PER_LAYER: dict[str, tuple[str, tuple[str, ...]]] = {
    "session.start_s": ("s", BOTH),
    "session.warmup_s": ("s", BOTH),
    "pipeline.prepare_corpus_s": ("s", CP),
    "pipeline.action_s": ("s", BOTH),
    "pipeline.run_once_s": ("s", RAG),
    "pipeline.search_s": ("s", RAG),
    "py4j.calls": ("count", BOTH),
    "driver.gap_s": ("s", BOTH),
    "spark.jobs_construct": ("count", BOTH),
    "spark.jobs_action": ("count", BOTH),
    "spark.stages": ("count", BOTH),
    "spark.tasks": ("count", BOTH),
    "spark.executor_run_s": ("s", BOTH),
    "spark.executor_cpu_s": ("s", BOTH),
    "spark.shuffle_write_mb": ("MB", BOTH),
    # no spill at these input sizes; GC may not run within a search
    "spark.spill_mb": ("MB", ()),
    "spark.gc_s": ("s", CP),
    "dedup.connected_components_s": ("s", CP),
    "dedup.closure_rounds": ("count", CP),
    "dedup.lsh_candidate_pairs_s": ("s", CP),
    "dedup.candidate_pairs": ("count", CP),
    "dedup.pair_precision": ("ratio", CP),
    "dedup.planted_recall": ("ratio", CP),
    "text.quality_filter_s": ("s", CP),
    "text.normalize_text_s": ("s", CP),
    "text.chunk_text_s": ("s", RAG),
    "text.chunks": ("count", RAG),
    "pinning.pins": ("count", CP),
    "pinning.pin_s": ("s", CP),
    "vectors.knn_topk_s": ("s", RAG),
    "vectors.rows_scored": ("count", RAG),
    "sinks.write_vector_index_s": ("s", RAG),
    "sinks.files_written": ("count", RAG),
    "sinks.bytes_written_mb": ("MB", RAG),
    "sinks.read_vector_index_s": ("s", RAG),
    "index.partitions": ("count", RAG),
    "index.files": ("count", RAG),
    "ledger.load_s": ("s", RAG),
    "ledger.append_s": ("s", RAG),
    "streaming.batches": ("count", RAG),
    "streaming.plan_s": ("s", RAG),
    "streaming.add_batch_s": ("s", RAG),
    "streaming.wal_commit_s": ("s", RAG),
    "streaming.batch_growth": ("ratio", RAG),
    # traced over untraced unit wall, minus one; either sign
    "trace.overhead_pct": ("%", ()),
}

# metric -> span name, timed per call
SPAN_TIMES = {
    "pipeline.prepare_corpus_s": "pipeline.prepare_corpus",
    "pipeline.action_s": "pipeline.action",
    "pipeline.run_once_s": "pipeline.run_once",
    "pipeline.search_s": "pipeline.search",
    "dedup.connected_components_s": "dedup.connected_components",
    "dedup.lsh_candidate_pairs_s": "dedup.lsh_candidate_pairs",
    "text.quality_filter_s": "text.quality_filter",
    "text.normalize_text_s": "text.normalize_text",
    "text.chunk_text_s": "text.chunk_text",
    "pinning.pin_s": "pinning.pin",
    "vectors.knn_topk_s": "vectors.knn_topk",
    "sinks.write_vector_index_s": "sinks.write_vector_index",
    "sinks.read_vector_index_s": "sinks.read_vector_index",
    "ledger.load_s": "ledger.load_ledger",
    "ledger.append_s": "ledger.append_processed",
}

CONSTRUCT = ("pipeline.prepare_corpus", "pipeline.search")


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def _quarter_growth(lat: list[float]) -> float:
    if not lat:
        return 0.0
    q = max(1, len(lat) // 4)
    return _mean(lat[-q:]) / _mean(lat[:q])


def per_layer(
    tracer: Tracer, units: list[dict], log: EventLog, start_s: float, warmup_s: float
) -> dict[str, float]:
    """Every PER_LAYER metric except the workload-specific ones, which
    WORKLOAD_LAYERS computes while Spark is still up."""
    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = start_s
    m["session.warmup_s"] = warmup_s
    for metric, name in SPAN_TIMES.items():
        spans = tracer.of("unit", name) or tracer.of("ingest", name)
        m[metric] = _mean(s.t1 - s.t0 for s in spans)

    traced = [u for u in units if u["traced"] and not u["warmup"]]
    acc: dict[str, list[float]] = {}
    for u in traced:
        spans = [s for s in tracer.of("unit") if u["t0"] <= s.t0 <= u["t1"]]
        jobs = log.jobs_in(u["t0"], u["t1"])

        def jobs_during(names):
            return sum(
                1 for j in jobs for s in spans
                if s.name in names and s.t0 <= j.t0 <= s.t1
            )

        row = {
            "py4j.calls": u["py4j"],
            "driver.gap_s": (u["t1"] - u["t0"]) - busy_seconds(jobs, u["t0"], u["t1"]),
            "spark.jobs_construct": jobs_during(CONSTRUCT),
            "spark.jobs_action": jobs_during(("pipeline.action",)),
            "pinning.pins": sum(1 for s in spans if s.name == "pinning.pin"),
        }
        for k, v in spark_totals(log, jobs).items():
            row[f"spark.{k}"] = v
        for k, v in row.items():
            acc.setdefault(k, []).append(v)
    for k, vs in acc.items():
        m[k] = _mean(vs)

    # closure rounds per connected_components call
    cc = [
        i for i, s in enumerate(tracer.spans)
        if s.phase == "unit" and s.name == "dedup.connected_components"
    ]
    m["dedup.closure_rounds"] = _mean(
        sum(1 for s in tracer.spans if s.parent == i and s.name == "dedup.cc_round")
        for i in cc
    )

    walls_t = [u["wall"] for u in traced]
    walls_u = [u["wall"] for u in units if not u["traced"] and not u["warmup"]]
    if walls_t and walls_u:
        m["trace.overhead_pct"] = 100.0 * (
            statistics.median(walls_t) / statistics.median(walls_u) - 1.0
        )
    return m


def corpus_layers(wl, spark, tracer: Tracer, units: list[dict]) -> dict[str, float]:
    cp = wl.candidate_pairs(spark, tracer)
    return {
        "dedup.candidate_pairs": cp["candidate_pairs"],
        "dedup.pair_precision": cp["pair_precision"],
        "dedup.planted_recall": _mean(
            u["info"]["planted_recall"] for u in units
            if u["traced"] and "planted_recall" in u.get("info", {})
        ),
    }


def rag_layers(wl, spark, tracer: Tracer, units: list[dict]) -> dict[str, float]:
    search, ingest = wl.drains[0], wl.drains[-1]
    lat = ingest["batches"]
    return {
        "text.chunks": ingest["chunks"],
        "vectors.rows_scored": search["chunks"],
        "sinks.files_written": ingest["files"],
        "sinks.bytes_written_mb": ingest["bytes"] / 2**20,
        "index.partitions": search["partitions"],
        "index.files": search["files"],
        "streaming.batches": len(lat),
        "streaming.plan_s": _mean(ingest["plan_s"]),
        "streaming.add_batch_s": _mean(ingest["add_batch_s"]),
        "streaming.wal_commit_s": _mean(ingest["wal_commit_s"]),
        "streaming.batch_growth": _quarter_growth(lat),
    }


WORKLOAD_LAYERS = {"corpus_prep": corpus_layers, "rag_search": rag_layers}
