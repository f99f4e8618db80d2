"""Metric names and units, and the per-layer numbers of a traced run.

Per-layer names are ``<module>.<call>.<measure>``. Every traced run prints
every per-layer metric; a call the workload never makes reads 0.
``BENCHMARK.json`` declares each name printed here (the benchmark's tests
check that).
"""

from __future__ import annotations

from perfbench.trace import COUNTERS, Span

WORKLOADS = ("wsi_roundtrip", "curation_mix")

END_TO_END = {"setup_s": "s", "run_s": "s", "rows_per_s": "1/s", "peak_rss_mb": "MB"}

# One entry or more per operator module the mix covers: relational,
# dedup, similarity, text, curation, multimodal, graph and pipeline.
CURATION_ENTRIES = (
    "q1_pricing_summary", "q3_shipping_priority", "dedup_exact",
    "sim_cosine_topk", "text_quality", "text_char_ngram_repetition",
    "mm_decode_png", "graph_pagerank", "dsir_importance_select",
)

# calls reported as ``<call>.s``, their spans' self time
_TIMED_CALLS = (
    "scope.create_scope", "scope.delete_scope", "scope.save_dataset",
    "sources.jdbc.import_jdbc", "sources.jdbc.export_jdbc",
    "operators.dataflow.run_job", "operators.dataflow.pipe_map_reduce",
    "operators.dataflow.arrow_map_reduce",
)
# calls whose Spark jobs are counted
_COUNTED_CALLS = (
    "sources.jdbc.import_jdbc", "sources.jdbc.export_jdbc",
    "operators.dataflow.run_job", "scope.save_dataset",
    "operators.dataflow.pipe_map_reduce", "operators.dataflow.arrow_map_reduce",
) + tuple(f"plans.{e}" for e in CURATION_ENTRIES)

_COUNTER_UNITS = {c: "bytes" if c.endswith("_bytes") else "count" for c in COUNTERS}

_OTHER = {
    "session.get_spark.s": "s",
    "plans.registry.load_catalog.s": "s",
    "scope.bytes_per_input_byte": "ratio",
    "sources.jdbc.import_jdbc.rows": "count",
    "sources.jdbc.import_jdbc.partitions": "count",
    "sources.jdbc.export_jdbc.rows": "count",
    "operators.dataflow.pipe_map_reduce.lines_in": "count",
    "operators.dataflow.pipe_map_reduce.lines_out": "count",
    "trace.run_s": "s",
    "trace.overhead_frac": "ratio",
    "drift.last_over_first": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = dict(_OTHER)
    units.update({f"{c}.s": "s" for c in _TIMED_CALLS})
    for e in CURATION_ENTRIES:
        units[f"plans.{e}.build_s"] = "s"
        units[f"plans.{e}.exec_s"] = "s"
    for c in _COUNTED_CALLS:
        units.update({f"{c}.{k}": u for k, u in _COUNTER_UNITS.items()})
    return units


def counted_call(op: str) -> str:
    """The counter prefix of a workload op (curation ops are entry names)."""
    return f"plans.{op}" if op in CURATION_ENTRIES else op


def _call_of(span_name: str) -> str:
    """``plans.<entry>.build``/``.exec`` spans count towards ``plans.<entry>``."""
    if span_name.startswith("plans."):
        return span_name.rsplit(".", 1)[0]
    return span_name


def per_layer(setup: dict[str, float], self_s: dict[str, float],
              counters: dict[int, dict[str, int]], spans: list[Span],
              counts: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics of one traced run (names from ``per_layer_units``)."""
    out = dict(setup)
    out.update(counts)
    for name, s in self_s.items():
        if name.startswith("plans."):
            call, phase = name.rsplit(".", 1)
            out[f"{call}.{phase}_s"] = s
        else:
            out[f"{name}.s"] = s
    for sp in spans:
        call = _call_of(sp.name)
        if call not in _COUNTED_CALLS:
            continue
        for k, v in counters[sp.span_id].items():
            out[f"{call}.{k}"] = out.get(f"{call}.{k}", 0) + v
    return out


def result_line(result: dict, trace: int) -> dict:
    """The final JSON line: every declared metric of the mode, with units."""
    units = per_layer_units() if trace else END_TO_END
    values = result["metrics"]
    unknown = set(values) - set(units)
    if unknown:
        raise ValueError(f"undeclared metrics: {sorted(unknown)}")
    return {**result, "metrics": {
        name: {"value": values.get(name, 0), "unit": unit}
        for name, unit in units.items()}}
