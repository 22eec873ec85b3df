"""Every metric the benchmark reports, and which end-to-end metric each
per-layer metric should move on which workload.

``BENCHMARK.json`` at the root of the repository is ``benchmark_json()``
written out (``python3 perfbench/metrics.py > BENCHMARK.json``); a
test keeps the two equal.

Every workload reports every metric. End-to-end metrics mean the same
thing on each workload, applied to its unit of work:

==================  =====================  ======================  =======================
metric              serve                  analytics               ingest
==================  =====================  ======================  =======================
latency_p50_ms      request, due -> reply, wall time of the     fresh-snapshot read:
                    at 4 req/s (HD est.)   pass (one caller        fuzzy name search,
                                           waits for all of it)    then point lookup
latency_tail_ms     p75 of the same        the same                p75 of the same
                    (54 requests)                                  (42 reads)
throughput_per_s    requests per second    queries per second of   committed rows per
                    with nproc in flight   the pass                second of ingest
                    (3 x 18 requests,
                    between the reporting
                    phases)
bytes_per_row       silver products bytes  bytes the pass writes   sink + trigram index
                    per lineitem row       per input row           bytes per row
setup_s             session start + one set-up: the ingest-time builds and a warm
                    burst over every route (serve), the same builds (analytics), a
                    bootstrap round creating sink and index (ingest). The seeded
                    inputs are generated before the session starts, not in set-up
memory_mb           peak resident memory of the Python driver plus the JVM's heap
                    after a full GC and its non-heap, taken when the timed work
                    ends (the tier generator runs in a child process)
==================  =====================  ======================  =======================

The tail is the highest percentile with at least ten samples beyond it.
serve's and ingest's percentiles are Harrell-Davis estimates (a
beta-weighted mean of all order statistics), which move less from run
to run than the single sample at a rank.
Failed or wrong operations are not a metric (their share is 0 on a
correct build): they are the result line's ``failed`` out of
``attempted``, and a wrong serve reply counts as infinitely late.

Per-layer metrics come from a traced run (``--trace 1``). A metric of a
layer the workload does not touch reads 0 there, which is the
prediction for that workload.
"""

from __future__ import annotations

import json

RUN_SECONDS = 12

WORKLOADS = (
    ("serve", "User path (server/mapping/domain), bypasses operators.*: open-loop even mix of 9 "
     "REST+MCP routes, Zipf keys, sf0.01 to fit the run budget, 4 req/s, alternating "
     "with bursts keeping nproc in flight"),
    ("analytics", "operators.* and eager checkpoint/count idioms: first bench.HEADLINE query "
     "per operator module plus q215/q264 at sf0.01 (sf0.1 does not fit the run budget)"),
    ("ingest", "Streaming rounds of price files (25% replayed) into the txn sink and trigram "
     "index, then fresh point and fuzzy reads: write path beside reads"),
)

# name, unit, better, bound (share of the parent's median)
END_TO_END = (
    # Times get the widest bound: on a shared 4-core VM, runs of
    # unchanged code move by 10-15% with the box's I/O and CPU load.
    ("latency_p50_ms", "ms", "lower", 0.25),
    ("latency_tail_ms", "ms", "lower", 0.25),
    ("throughput_per_s", "1/s", "higher", 0.25),
    ("bytes_per_row", "B", "lower", 0.1),
    ("memory_mb", "MB", "lower", 0.2),
    ("setup_s", "s", "lower", 0.25),
)

HEADLINE_MODULES = (
    "analytics", "basket", "classics", "curation", "dedup", "events", "graph",
    "history", "joins", "layout", "lowest", "multimodal", "pricing", "search",
    "similarity", "temporal", "text", "timetravel", "windowed",
)
ROUTES = (
    "search", "barcode", "history", "lowest", "stats", "store_products",
    "mcp_search", "mcp_compare", "mcp_basket",
)

# name, unit, better, (end-to-end metric it should move, on which workload)
PER_LAYER = (
    ("server.self_ms", "ms", "lower", "latency_p50_ms slightly, serve"),
    ("loadgen.late_p90_ms", "ms", "lower", "none: sanity check of the load generator, serve"),
    *[(f"route.{r}_ms", "ms", "lower", "latency_p50_ms / latency_tail_ms, serve")
      for r in ROUTES],
    ("mapping.products_ms", "ms", "lower", "latency_p50_ms, serve (0 on analytics)"),
    ("domain.build_ms", "ms", "lower", "latency_p50_ms, serve"),
    ("spark.jobs_per_req", "count", "lower", "latency_p50_ms, serve"),
    ("spark.driver_gap_ms", "ms", "lower", "latency_p50_ms, serve"),
    ("spark.input_bytes_per_req", "B", "lower", "throughput_per_s, serve"),
    ("spark.tasks_per_req", "count", "lower", "throughput_per_s, serve"),
    ("spark.executor_ms_per_req", "ms", "lower", "throughput_per_s, serve"),
    *[(f"module.{m}_s", "s", "lower", "throughput_per_s, analytics")
      for m in HEADLINE_MODULES],
    ("materialize.checkpoints", "count", "lower", "throughput_per_s, analytics; watch memory_mb"),
    ("materialize.checkpoint_ms", "ms", "lower", "throughput_per_s, analytics"),
    ("materialize.eager_actions", "count", "lower", "throughput_per_s, analytics"),
    ("materialize.eager_ms", "ms", "lower", "throughput_per_s, analytics"),
    ("spark.jobs", "count", "lower", "throughput_per_s, analytics"),
    ("spark.stages", "count", "lower", "throughput_per_s, analytics"),
    ("spark.driver_gap_s", "s", "lower", "throughput_per_s, analytics"),
    ("spark.executor_run_s", "s", "lower", "throughput_per_s, analytics and ingest"),
    ("spark.gc_s", "s", "lower", "throughput_per_s; memory_mb"),
    ("spark.shuffle_write_bytes", "B", "lower", "throughput_per_s, analytics"),
    ("spark.spill_bytes", "B", "lower", "throughput_per_s, analytics"),
    ("spark.task_skew", "ratio", "lower", "throughput_per_s, analytics"),
    ("spark.python_worker_s", "s", "lower", "throughput_per_s, analytics"),
    ("txn.stage_ms", "ms", "lower", "throughput_per_s, ingest"),
    ("txn.commit_ms", "ms", "lower", "throughput_per_s, ingest"),
    ("txn.read_committed_ms", "ms", "lower", "latency_p50_ms, ingest"),
    ("txn.log_versions", "count", "lower", "latency_p50_ms, ingest"),
    ("ingest.dedup_input_bytes", "B", "lower", "throughput_per_s, ingest: O(replay window)"),
    ("ingest.absorbed_ratio", "ratio", "higher",
     "none: 1 - rows the sink added / source rows, must equal the replayed share 0.25, ingest"),
    ("search.index_update_ms", "ms", "lower", "throughput_per_s, ingest"),
    ("storage.index_bytes_per_row", "B", "lower", "bytes_per_row, ingest"),
    ("storage.sink_bytes_per_row", "B", "lower", "bytes_per_row, ingest"),
    ("trace.overhead_pct", "%", "lower",
     "none: tracer's own bookkeeping / traced work (handler time, pass, window), every workload"),
)


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, _ in PER_LAYER],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2, ensure_ascii=False))
