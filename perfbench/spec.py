"""What the benchmark runs, and the end-to-end metric each per-layer metric
is expected to move.

The metrics' names, units and directions are read from ``BENCHMARK.json``
at the repository root.
"""

from __future__ import annotations

import math
from typing import NamedTuple

# Pipeline entries timed by the ``pipelines`` workload: the ``operators/``
# similarity, dedup, multimodal, sampling, streaming, temporal and text
# paths, among them the ROADMAP's open items (dedup_clusters, the MinHash
# Arrow stage, bm25). Left out: the fixed-fixture codec entries
# (``decode_*``), which time a pure-Python decoder rather than the engine,
# and the rest of the oracle-backed pipeline entries, which do not fit a
# warm-up and two timed passes in the run budget.
PIPELINE_ENTRIES = (
    "pipeline_ann_lsh_bucketed",        # similarity
    "pipeline_dedup_clusters",          # dedup (connected components)
    "pipeline_dedup_minhash_lsh",       # dedup (mapInArrow signatures)
    "pipeline_multimodal_blob_dedup",   # multimodal
    "pipeline_sample_stratified",       # sampling
    "pipeline_streaming_sessionize",    # streaming
    "pipeline_temporal_asof_join",      # temporal
    "pipeline_text_bm25",               # text
)


class Workload(NamedTuple):
    scale: str            # data directory under data/ (sf1: built)
    pass_s: float         # nominal seconds of one warm pass
    warmup: bool          # one whole pass, untimed, before the timed ones
    # the fewest timed passes; with two or more, an entry's latency is its
    # best op
    min_passes: int
    check: str            # what the oracle compares: columns|parquet|frame


WORKLOADS = {
    "plan_only": Workload("sf0.1", 8.0, True, 2, "columns"),
    "pipelines": Workload("sf0.1", 6.0, True, 2, "parquet"),
    "tpch_sf1": Workload("sf1", 45.0, False, 1, "frame"),
}


def passes_for(workload: str, seconds: float, trace: int) -> int:
    """Whole timed passes that fill ``seconds`` of op time; fixed per
    workload and run length so every seed times the same work. A traced
    run reports no latency, so it needs no second pass."""
    w = WORKLOADS[workload]
    return max(1 if trace else w.min_passes,
               math.ceil(seconds / w.pass_s - 1e-9))


# Per-layer metric -> the end-to-end metric and workload it should move.
# Names, units and directions are in BENCHMARK.json.
SHOULD_MOVE = {
    "parser.ms": "latency_p50_ms on plan_only (expected under 1% of op time)",
    "compiler.ms": "latency_p50_ms and ops_per_s on plan_only; a few % on "
                   "tpch_sf1; none on pipelines",
    "compiler.py4j_calls": "latency_p50_ms and ops_per_s on plan_only",
    "compiler.jobs": "latency_p90_ms on plan_only",
    "catalyst.optimize_ms": "latency on plan_only",
    "catalyst.physical_ms": "latency on plan_only",
    "exec.ms": "ops_per_s and latency_p90_ms on tpch_sf1 and pipelines",
    "exec.jobs": "ops_per_s and latency_p90_ms on tpch_sf1 and pipelines",
    "exec.stages": "ops_per_s and latency_p90_ms on tpch_sf1 and pipelines",
    "exec.tasks": "ops_per_s and latency_p90_ms on tpch_sf1 and pipelines",
    "exec.shuffle_bytes": "latency_p90_ms on tpch_sf1",
    "exec.spill_bytes": "latency_p90_ms on tpch_sf1",
    "exec.gc_ms": "memory_mb on tpch_sf1 and pipelines",
    "operators.build_ms": "latency on pipelines",
    "operators.build_jobs": "latency on pipelines",
    "session.start_ms": "setup_s, mostly on tpch_sf1",
    "sources.register_ms": "setup_s, mostly on tpch_sf1",
    "engine.analyze_ms": "setup_s, mostly on tpch_sf1",
    "engine.persisted_rdds_max": "memory_mb on tpch_sf1 and pipelines",
    "trace.overhead_pct": "none: traced minus untraced op time, as a share "
                          "of untraced",
}
