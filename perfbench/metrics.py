"""Every metric the benchmark prints, with its unit and direction, and for
each per-layer metric the end-to-end metric and workload it should move.
``BENCHMARK.json`` lists the same names; the benchmark's tests keep the
two in step.

Each workload defines the end-to-end metrics in its own terms:

- a *round* is one simulated day (``elt_daily``), one pass over the
  query mix (``analytics_sf005``) or one cycle of the serving operation
  mix (``store_serving``);
- an *op* is one entrypoint handler call or event drain, one query
  execution, or one store verb call;
- *rows* are rows landed in the store, result rows materialized, or rows
  read and written by store verbs.
"""

from __future__ import annotations

# The workloads BENCHMARK.json gates on. ``store_serving`` runs the same
# way but is not gated: each run pays a cold Spark JVM and warm-up of
# 30-45 s, and 22 runs of three workloads do not fit the gate's time
# budget.
GATED = ("elt_daily", "analytics_sf005")
WORKLOADS = GATED + ("store_serving",)

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "round_s": ("s", "lower"),
    "op_p90_ms": ("ms", "lower"),
    "rows_per_s": ("rows/s", "higher"),
    "disk_mb": ("MB", "lower"),
}

_ELT = "elt_daily"
_ANA = "analytics_sf005"
_SRV = "store_serving"
_ALL = "all"

# name -> (unit, better, end-to-end metric it should move, workload);
# the prediction for every other workload is no change
PER_LAYER = {
    "session.start_s": ("s", "lower", "setup_s", _ALL),
    "session.warmup_s": ("s", "lower", "setup_s", _ALL),
    # peak RSS of driver + JVM varies by a fifth between runs of the same
    # code (JVM heap growth), too much for an end-to-end bound
    "session.peak_rss_mb": ("MB", "lower", "none (memory)", _ALL),
    "trace.round_s": ("s", "lower", "round_s (traced; minus untraced = overhead)", _ALL),
    "trace.op_p90_ms": ("ms", "lower", "op_p90_ms (traced; minus untraced = overhead)", _ALL),
    "trace.spans_per_op": ("count", "lower", "none (tracing cost)", _ALL),
    **{
        f"entrypoints.{h}_s": ("s", "lower", "round_s", _ELT)
        for h in ("weather", "uslocations", "pwr5teams", "games", "gamestats")
    },
    "plans.schedule_s": ("s", "lower", "round_s", _ELT),
    "plans.extract_s": ("s", "lower", "round_s", _ELT),
    "plans.load_s": ("s", "lower", "round_s", _ELT),
    "plans.jobs_per_day": ("count", "lower", "round_s", _ELT),
    "sources.fetch_calls_per_day": ("count", "lower", "round_s", _ELT),
    "sources.retries": ("count", "lower", "round_s", _ELT),
    "sources.fetch_useful_ratio": ("ratio", "higher", "round_s", _ELT),
    "streaming.drain_s": ("s", "lower", "round_s", _ELT),
    "streaming.add_batch_ms": ("ms", "lower", "round_s", _ELT),
    "streaming.get_batch_ms": ("ms", "lower", "round_s", _ELT),
    "streaming.query_planning_ms": ("ms", "lower", "round_s", _ELT),
    "streaming.wal_commit_ms": ("ms", "lower", "round_s", _ELT),
    "streaming.batches": ("count", "lower", "round_s", _ELT),
    "streaming.input_rows": ("count", "higher", "rows_per_s", _ELT),
    "io.append_s": ("s", "lower", "round_s", _ELT),
    "io.reload_partitions_s": ("s", "lower", "round_s", _ELT),
    "io.overwrite_s": ("s", "lower", "op_p90_ms", _ELT),
    "io.max_value_ms": ("ms", "lower", "round_s", _ELT),
    "io.tables_ms": ("ms", "lower", "round_s", _ELT),
    "io.upsert_s": ("s", "lower", "op_p90_ms", _SRV),
    "io.merge_when_s": ("s", "lower", "op_p90_ms", _SRV),
    "io.delete_where_s": ("s", "lower", "op_p90_ms", _SRV),
    "io.jobs_per_write": ("count", "lower", "op_p90_ms", _SRV),
    "io.write_amp": ("ratio", "lower", "disk_mb", _SRV),
    "io.compact_s": ("s", "lower", "round_s", _SRV),
    "io.vacuum_s": ("s", "lower", "round_s", _SRV),
    "io.live_files": ("count", "lower", "round_s", _SRV),
    "io.space_amp": ("ratio", "lower", "disk_mb", _SRV),
    "io.lookup_ms": ("ms", "lower", "round_s", _SRV),
    "io.read_key_ms": ("ms", "lower", "round_s", _SRV),
    "io.read_point_ms": ("ms", "lower", "round_s", _SRV),
    "io.count_where_ms": ("ms", "lower", "round_s", _SRV),
    "io.read_plan_ms": ("ms", "lower", "round_s", _SRV),
    "io.jobs_per_read": ("count", "lower", "round_s", _SRV),
    "io.files_per_read": ("count", "lower", "round_s", _SRV),
    **{
        f"operators.{q}_s": ("s", "lower", "round_s", _ANA)
        for q in (
            "flagship_coverage_gap", "q1_pricing_summary", "q3_top_revenue",
            "q5_region_volume", "q21_waiting_suppliers", "events_sessionize",
            "events_asof_join", "events_range_join", "cdc_latest_wins",
            "dedup_minhash_lsh", "ann_topk_bruteforce", "retrieval_bm25_topk",
            "text_quality",
        )
    },
    "operators.jobs_per_query": ("count", "lower", "round_s", _ANA),
    "operators.tasks_per_query": ("count", "lower", "round_s", _ANA),
}


def per_layer_printed(workload: str) -> dict[str, tuple]:
    """The per-layer metrics a traced run of ``workload`` prints: those
    of every gated workload (BENCHMARK.json's list), plus its own."""
    return {
        k: v for k, v in PER_LAYER.items()
        if v[3] in (_ALL, workload) or v[3] in GATED
    }
