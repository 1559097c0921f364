"""Metric names, units and the assembly of a run's result.

Every run prints every end-to-end metric (untraced) or every per-layer
metric (traced), whichever workload it is. A layer that a workload does not
exercise reports 0 there: the analytics faces do no log or consumer work,
and the drain does no face work.
"""

from __future__ import annotations

#: name -> unit, reported with tracing off.
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "round_ref_s": "s",
    "step_geomean_ref_s": "s",
}
#: The end-to-end times a traced run also reports, as ``trace.<name>``.
END_TO_END_TIMES = ("setup_s", "round_ref_s", "step_geomean_ref_s")

#: The 12 analytics faces and the engine module each lives in.
FACES = {
    "q01_pricing_summary": "operators.relational",
    "q03_star_join_revenue": "operators.relational",
    "q06_range_join": "operators.relational",
    "q13_window_topk_per_group": "operators.relational",
    "q22_session_window": "operators.windows",
    "q156_kcore_decomposition": "operators.graph",
    "q176_link_prediction": "operators.graph",
    "q36_minhash_lsh_neardup": "llm.dedup",
    "q80_neardup_clusters": "llm.dedup",
    "q41_embedding_neardup": "llm.similarity",
    "q86_tfidf_keywords": "llm.text",
    "q140_bm25_search": "llm.search",
}
MODULES = tuple(dict.fromkeys(FACES.values()))

DRAIN_STEPS = ("produce", "strict", "by_key")
STREAM_PHASES = (
    "latestOffset",
    "getBatch",
    "queryPlanning",
    "addBatch",
    "walCommit",
    "commitOffsets",
)
SPARK_UNITS = {
    "jobs": "count",
    "tasks": "count",
    "task_cpu_ms": "ms",
    "gc_ms": "ms",
    "shuffle_bytes": "bytes",
    "planning_gap_ms": "ms",
}
#: Span groups the Spark event log is attributed to.
SPARK_SPANS = tuple(f"drain.{s}" for s in DRAIN_STEPS) + MODULES


def _per_layer() -> dict[str, str]:
    m = {
        "session.get_spark_s": "s",
        "registry.load_s": "s",
        "setup.inputs_s": "s",
        "setup.warmup_s": "s",
        "rss.jvm_mb": "MB",
        "rss.python_mb": "MB",
        "rounds": "count",
        "host.calib_ms": "ms",
        "raw.round_s": "s",
        "raw.step_geomean_s": "s",
        "raw.round_cpu_s": "s",
        **{f"trace.{name}": "s" for name in END_TO_END_TIMES},
        "trace.spans": "count",
        "drain.produce_msgs_per_s": "1/s",
        "drain.strict_msgs_per_s": "1/s",
        "drain.by_key_msgs_per_s": "1/s",
        "log.produce_df_s": "s",
        "log.files": "count",
        "consumer.strict.run_once_s": "s",
        "consumer.strict.handler_s": "s",
        "consumer.by_key.run_once_s": "s",
        "consumer.by_key.handler_s": "s",
        "consumer.handler_calls_per_msg": "ratio",
        "consumer.pending_rows": "count",
        "consumer.dead_letter_rows": "count",
        "consumer.stop_clean": "count",
        "consumer.stop_stackoverflow": "count",
    }
    for ctx in ("strict", "by_key"):
        m[f"stream.{ctx}.batches"] = "count"
        for phase in STREAM_PHASES:
            m[f"stream.{ctx}.{phase}_ms"] = "ms"
    m["analytics.total_s"] = "s"
    m["analytics.geomean_s"] = "s"
    for face in FACES:
        m[f"face.{face}.s"] = "s"
    for span in SPARK_SPANS:
        for field, unit in SPARK_UNITS.items():
            m[f"spark.{span}.{field}"] = unit
    return m


PER_LAYER = _per_layer()


def assemble(values: dict[str, float], trace: bool) -> dict[str, dict]:
    """The result's ``metrics`` object: every metric of the mode, each with
    its unit; a metric the run did not measure reports 0."""
    names = PER_LAYER if trace else END_TO_END
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in names.items()
    }
