"""bench.py's compact stdout line is the driver's BENCH_r*.json record —
its byte budget, slowest-first selection, and warm-retry marker decide
what a reader of the record can tell apart. These tests pin the
contract: marker present, restricted to listed names, budget never
exceeded, and the slowest queries always preferred when trimming; and
the retry pass's suspicion rule.
"""

import json
import sys
import types


def _bench():
    # bench.py imports the full queries package at module import (heavy);
    # stub the two imports it needs so build_compact stays unit-testable.
    import importlib.util
    import os

    repo = os.path.join(os.path.dirname(__file__), "..")
    qmod = types.ModuleType("quantum_rag_data_pipeline_spark.queries")
    qmod.QUERIES = {}
    smod = types.ModuleType("quantum_rag_data_pipeline_spark.session")
    smod.get_spark = lambda **k: None
    saved = {k: sys.modules.get(k) for k in
             ("quantum_rag_data_pipeline_spark.queries",
              "quantum_rag_data_pipeline_spark.session")}
    sys.modules["quantum_rag_data_pipeline_spark.queries"] = qmod
    sys.modules["quantum_rag_data_pipeline_spark.session"] = smod
    try:
        spec = importlib.util.spec_from_file_location(
            "bench_under_test", os.path.join(repo, "bench.py"))
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        for k, v in saved.items():
            if v is None:
                sys.modules.pop(k, None)
            else:
                sys.modules[k] = v
    return mod


BENCH = _bench()


def test_marker_lists_only_compact_queries():
    timings = {f"q{i}": float(i) for i in range(1, 30)}
    retried = ["q29", "q1"]  # q29 slow (listed), q1 cheap (may be trimmed)
    c = BENCH.build_compact(100.0, timings, {}, retried, 0.1)
    assert set(c["warm_retry_minima"]) <= set(c["queries"])
    assert "q29" in c["warm_retry_minima"]


def test_budget_is_hard_and_slowest_survive():
    timings = {f"query_with_a_rather_long_name_{i:04d}": i / 10.0
               for i in range(1, 400)}
    retried = list(timings)[:50]
    c = BENCH.build_compact(999.0, timings, {}, retried, 0.1, budget=800)
    line = json.dumps(c, separators=(",", ":"))
    assert len(line) <= 800
    # every listed query must be >= every unlisted one (slowest-first)
    if c["queries"]:
        floor = min(c["queries"].values())
        unlisted = [v for k, v in timings.items() if k not in c["queries"]]
        assert all(v <= floor for v in unlisted)


def test_empty_retry_list_yields_empty_marker():
    c = BENCH.build_compact(1.0, {"a": 1.0}, {}, [], 0.1)
    assert c["warm_retry_minima"] == []
    assert c["queries"] == {"a": 1.0}


def test_pre_retry_total_travels_on_compact_line():
    """Round-10 comparability field: when warm retries replaced timings,
    the compact line must carry value_pre_retry (the total computed from
    the paired originals) so cross-round headline totals compare
    like-for-like; omitted when no pre-retry total is supplied (old
    records stay shape-stable)."""
    c = BENCH.build_compact(10.0, {"a": 1.0, "b": 9.0}, {}, ["b"], 0.1,
                            total_pre_retry=12.5)
    assert c["value_pre_retry"] == 12.5
    assert c["value"] == 10.0
    c2 = BENCH.build_compact(10.0, {"a": 1.0, "b": 9.0}, {}, [], 0.1)
    assert "value_pre_retry" not in c2


def test_compact_era_drops_string_annotations():
    """Round-14: era probes carry a disk_probe_path string in the full
    dump; the byte-budgeted compact line must keep only the numeric
    dims — every annotation byte displaces a slow-query timing."""
    era = {"pre": {"disk_wgbps": 0.4, "disk_probe_path": "/tmp/x"},
           "post": {"disk_wgbps": 0.5, "fault_gbps": None,
                    "disk_probe_path": "/tmp/x"}}
    c = BENCH.build_compact(1.0, {"q": 1.0}, {}, [], 0.1, era=era)
    assert c["era"]["pre"] == {"disk_wgbps": 0.4}
    assert c["era"]["post"] == {"disk_wgbps": 0.5, "fault_gbps": None}


def test_compact_keys_are_the_driver_contract():
    """The compact line's key set, with every optional field present."""
    era = {"pre": {"disk_wgbps": 0.4}, "post": {"disk_wgbps": 0.5}}
    c = BENCH.build_compact(1.0, {"q": 1.0}, {}, ["q"], 0.1,
                            total_pre_retry=1.5, era=era)
    assert set(c) == {"metric", "value", "unit", "queries", "n_queries",
                      "value_pre_retry", "era", "n_errors", "queries_full",
                      "sf", "warm_retry_minima"}


def test_suspect_retries_a_stalled_pair_and_not_a_steady_one():
    """The retry pass's anchor-free rule: a query is re-run when its two
    fastest runs differ by more than 1.5x and more than 0.5 s."""
    suspect = BENCH.suspect
    assert suspect([1.0, 5.0]) and suspect([5.0, 1.0])  # one run stalled
    assert not suspect([1.0, 1.1])  # steady pair
    assert not suspect([0.1, 0.5])  # 5x, but sub-second jitter
    assert not suspect([4.0, 5.5])  # 1.4 s apart, but within 1.5x
    # a re-run that confirms the minimum ends the retries; one far under
    # the pair shows its minimum was slowed too, and needs confirming
    assert not suspect([1.0, 5.0, 1.2])
    assert suspect([3.0, 6.0, 1.0])
