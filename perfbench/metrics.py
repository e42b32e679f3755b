"""What every reported metric means, and where each layer should show.

``BENCHMARK.json`` is the one source of each metric's name, unit and
direction; ``run.py`` refuses to run unless the names there and here are
the same.  The end-to-end metrics are reported by every workload
(``--trace 0``); the per-layer metrics by every traced run
(``--trace 1``).  A layer a workload does not exercise reports 0 there.
Each per-layer entry says which end-to-end metric, on which workload, the
layer metric should move, and which phase of the run measures it.

An *op* is one unit a workload checks: a drain or a landed replay file
(``stream``), or a query execution (``catalog``).
"""

import json
import os

E2E = {
    # name: meaning
    "setup_s": "session start and fixture build (overlapped); stream: then the replay's "
               "lead-in, the JVM's first streaming work",
    "wall_s": "stream: median drain of the fixture (availableNow, both queries terminated, "
              "all epochs committed); catalog: the pass over the queries, build + collect, "
              "in the fresh session",
    "turns_per_s": "stream: fixture turns / wall_s; catalog: transcript turns x "
                   "transcript-reading queries in the pass / wall_s",
    "latency_p50_s": "stream: per replayed file, due time -> turns-sink commit of the epoch "
                     "holding it; catalog: per query, build + collect",
    "latency_p90_s": "as latency_p50_s, 90th percentile (nearest rank)",
    "peak_rss_mb": "peak resident memory of the driver JVM and the Python workers under it "
                   "(summed Pss, so shared pages count once)",
    "success_rate": "1 - failed/attempted ops; an op fails if it raises or fails its "
                    "correctness check",
}

# in the order a micro-batch runs them; triggerExecution spans the others
STREAM_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                 "addBatch", "commitOffsets", "triggerExecution")
CATALOG_TRACED = ("conditional", "dedup_components", "dedup_minhash_lsh", "pipeline_p2p",
                  "apache_pipeline", "tumbling_sliding", "session_window", "grok")

# name: "end-to-end metric on workload it should move [phase]"
PER_LAYER: dict[str, str] = {
    "session.start_s": "setup_s on both",
    "sources.fixture_s": "setup_s on both",
    "bench.warmup_s": "setup_s on stream [replay lead-in]",
    "bench.trace_overhead_s": "none: traced minus untraced median drain (stream) or "
                              "second pass (catalog)",
    "sources.scan_s": "wall_s on stream [turns ladder]",
    "operators.grok_s": "wall_s on stream [turns ladder]; wall_s on catalog [grok exec]",
    "operators.mutate_flags_s": "wall_s on stream [turns ladder]",
    "sinks.write_s": "wall_s on stream [turns ladder]",
    "operators.grok_fail_ratio": "none: canary, must not move [drain]",
}
for _q in ("turns", "sessions"):
    _lat = "latency_p50_s" if _q == "turns" else "streaming.session_latency_p50_s"
    for _ph in STREAM_PHASES:
        PER_LAYER[f"streaming.{_q}.{_ph}_s"] = "wall_s on stream [drain, sum]"
        PER_LAYER[f"streaming.{_q}.{_ph}_p50_s"] = f"{_lat} on stream [replay, per-batch p50]"
    PER_LAYER[f"streaming.{_q}.batches"] = f"{_lat} on stream [replay]"
PER_LAYER.update({
    "streaming.session_latency_p50_s": (
        "none: per emitted session, due time of the file that made it closable "
        "(max event time >= end + watermark delay) -> sessions-sink commit [replay]"),
    "streaming.session_latency_p90_s": "as above, 90th percentile [replay]",
    "streaming.gap_s": "wall_s on stream [drain]",
    "streaming.sessions.no_data_batches": "wall_s on stream [drain]",
    "streaming.sessions.state_rows_total": "streaming.session_latency_p90_s [replay]",
    "streaming.sessions.state_rows_peak": "streaming.session_latency_p90_s [replay]",
    "streaming.sessions.state_memory_bytes": "streaming.session_latency_p90_s [replay]",
    "streaming.sessions.state_commit_s": "streaming.session_latency_p90_s [replay]",
    "streaming.sessions.rows_dropped_by_watermark":
        "none: stays 0 on delivery-ordered input [replay]",
    "streaming.sessions.shuffle_write_bytes": "wall_s on stream [drain]",
    "streaming.sessions.shuffle_write_records": "wall_s on stream [drain]",
    "session.jvm_gc_s": "wall_s on stream [drain]",
    "sinks.handle_s": "wall_s on stream [drain, sum]",
    "sinks.handle_p50_s": "latency_p50_s on stream [replay, per call]",
    "sinks.bytes_written": "wall_s on stream [drain]",
    "sinks.epochs_committed": "latency_p50_s on stream [replay]",
    "sources.backlog_files_max": "latency_p90_s on stream [replay]",
    "sources.generator_late_p99_s": "none: validity check, stays near 0 [replay]",
    "plans.build_s": "wall_s, latency_p50_s on catalog",
    "plans.exec_s": "wall_s, latency_p50_s on catalog",
    "plans.build_jobs": "wall_s on catalog",
})
for _q in CATALOG_TRACED:
    PER_LAYER[f"catalog.{_q}.build_s"] = "wall_s, latency_p90_s on catalog"
    PER_LAYER[f"catalog.{_q}.exec_s"] = "wall_s, latency_p90_s on catalog"
PER_LAYER.update({
    "catalog.tumbling_sliding.shuffle_write_records":
        "wall_s on catalog; slicing would cut N*size/slide to ~N",
    "streaming.drain_local1_s": "none: single-core baseline [drain]",
    "streaming.drain_local4_s": "wall_s on stream [drain]",
    "streaming.scaling_1_to_n": "none: 1->4 core efficiency, for information [drain]",
})


def units(benchmark_json: str) -> tuple[dict[str, str], dict[str, str]]:
    """End-to-end and per-layer metric name -> unit, as ``BENCHMARK.json``
    declares them.  Raises ``ValueError`` if its names are not exactly the
    ones described here."""
    with open(benchmark_json) as f:
        spec = json.load(f)
    out = []
    for key, described in (("end_to_end", E2E), ("per_layer", PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in spec[key]}
        if declared.keys() != described.keys():
            raise ValueError(
                f"{os.path.basename(benchmark_json)} {key} differs from metrics.py: "
                f"only declared {sorted(declared.keys() - described.keys())}, "
                f"only described {sorted(described.keys() - declared.keys())}")
        out.append(declared)
    return out[0], out[1]
