import json
import re
from pathlib import Path

import pytest

from perfbench import metrics
from perfbench.trace import COUNTERS, Span

BENCHMARK = json.loads(
    (Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _declared(section):
    return {m["name"]: m for m in BENCHMARK[section]}


def test_every_printed_metric_is_declared_with_its_unit():
    for section, printed in (("end_to_end", metrics.END_TO_END),
                             ("per_layer", metrics.per_layer_units())):
        declared = _declared(section)
        assert set(printed) == set(declared), section
        assert {n: u for n, u in printed.items()} == {
            n: m["unit"] for n, m in declared.items()}, section


def test_benchmark_json_shape():
    assert set(BENCHMARK) == {"command", "paths", "run_seconds", "workloads",
                              "end_to_end", "per_layer"}
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(metrics.WORKLOADS)
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200
               for w in BENCHMARK["workloads"])
    names = [m["name"] for s in ("workloads", "end_to_end", "per_layer")
             for m in BENCHMARK[s]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in BENCHMARK["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and m["better"] in ("lower", "higher")
    setup = _declared("end_to_end")["setup_s"]
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in BENCHMARK["end_to_end"])
    assert 1 <= len(BENCHMARK["per_layer"]) <= 128
    for m in BENCHMARK["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])


def test_per_layer_of_a_traced_run_uses_declared_names():
    spans = [Span(0, "operators.dataflow.run_job", None, "r", 0.0, 2.0),
             Span(1, "scope.save_dataset", 0, "r", 0.5, 1.5),
             Span(2, "plans.dedup_exact.build", None, "r", 2.0, 2.5),
             Span(3, "plans.dedup_exact.exec", None, "r", 2.5, 3.0)]
    counters = {i: dict.fromkeys(COUNTERS, 1) for i in range(4)}
    self_s = {"operators.dataflow.run_job": 1.0, "scope.save_dataset": 1.0,
              "plans.dedup_exact.build": 0.5, "plans.dedup_exact.exec": 0.5}
    out = metrics.per_layer({"session.get_spark.s": 3.0}, self_s, counters,
                            spans, {"sources.jdbc.export_jdbc.rows": 7})
    assert set(out) <= set(metrics.per_layer_units())
    assert out["plans.dedup_exact.build_s"] == 0.5
    assert out["plans.dedup_exact.jobs"] == 2  # build and exec together
    line = metrics.result_line(
        {"correct": True, "attempted": 1, "failed": 0, "metrics": out}, trace=1)
    assert set(line["metrics"]) == set(_declared("per_layer"))
    assert line["metrics"]["sources.jdbc.import_jdbc.rows"]["value"] == 0


def test_result_line_rejects_undeclared_metrics():
    with pytest.raises(ValueError):
        metrics.result_line({"correct": True, "attempted": 1, "failed": 0,
                             "metrics": {"made_up": 1.0}}, trace=0)


def test_curation_entries_are_catalog_entries_with_oracles():
    from mapreduce_wsi_spark.plans.registry import load_catalog

    catalog = load_catalog()
    for e in metrics.CURATION_ENTRIES:
        assert catalog[e].oracle, e


def test_layer_map_names_declared_metrics():
    layers = json.loads((Path(metrics.__file__).parent / "layers.json").read_text())
    declared = set(_declared("per_layer")) | set(_declared("end_to_end"))
    for layer in layers["layers"]:
        for name in layer["metrics"] + layer.get("counted", []):
            if "<" not in name:
                assert name in declared or f"{name}.jobs" in declared, name
        assert set(layer["moves"]) <= set(_declared("end_to_end"))
    assert set(layers["workloads"]) == set(metrics.WORKLOADS)
