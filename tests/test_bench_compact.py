"""Unit tests for bench.py's stdout-line compaction.

The driver parses only the last ~2000 chars of bench stdout, so the
final JSON line must fit a fixed budget. ``_compact`` keeps the
headline scalars and fills the per-query map slowest-first; on an
error-heavy round the (up to 20) error names are trimmed *before*
the fill loop so the freed budget is spent on query timings
(ADVICE r7: trimming afterwards stranded the freed space).
"""

import importlib.util
import json
import os

import pytest

_BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")


@pytest.fixture(scope="module")
def compact():
    spec = importlib.util.spec_from_file_location("bench_under_test", _BENCH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._compact


def _payload(n_queries=172, n_errors=20):
    return {
        "metric": "total_sec",
        "run_id": "test-run",
        "value": 100.0,
        "unit": "sec",
        "sf": "sf0.1",
        "total_median_seconds": 100.0,
        "n_runs_per_query": 3,
        "band_vs_history": 1.01,
        "band_extra_passes": 0,
        "queries": {f"registry_query_name_{i:03d}": (n_queries - i) / 10.0 for i in range(n_queries)},
        "errors": [f"some_really_long_registry_query_name_number_{i:02d}" for i in range(n_errors)],
        "host": {
            "nproc": 4,
            "spark.master": "local[32]",
            "defaultParallelism": 32,
            "spark.sql.shuffle.partitions": "32",
            "spark": "4.0.0",
            "python": "3.11.7",
            "commit": "0123456789abcdef0123456789abcdef01234567",
            "source_sha256": "0123456789abcdef",
            "seed": None,
        },
    }


def test_fits_budget_and_orders_slowest_first(compact):
    out = compact(_payload(), budget=1900)
    line = json.dumps(out)
    assert len(line) <= 1900
    secs = list(out["queries"].values())
    assert secs == sorted(secs, reverse=True)
    assert out["n_queries"] == 172
    assert out["queries_omitted"] == 172 - len(out["queries"])


def test_error_heavy_round_still_carries_query_timings(compact):
    # Budget small enough that 20 long error names alone overflow the
    # fixed fields: the trim must free space that the fill loop then
    # spends on at least one per-query timing (the ADVICE r7 defect
    # was zero query entries despite available space). The budget is
    # 450 chars plus the footprint of the host facts every line carries.
    host = _payload()["host"]
    budget = 450 + len(json.dumps(
        {k: host[k] for k in ("nproc", "defaultParallelism", "spark.master", "commit")}
    ))
    out = compact(_payload(), budget=budget)
    line = json.dumps(out)
    assert len(line) <= budget
    assert len(out["error_names"]) < 20  # trim engaged
    assert len(out["queries"]) >= 1  # freed budget was used
    # Slowest query survives.
    assert max(_payload()["queries"].values()) in out["queries"].values()


@pytest.mark.parametrize("n_errors", [0, 20])
def test_compact_line_carries_host_facts(compact, n_errors):
    """Every stdout line names the host it ran on, so numbers from two
    hosts are never compared unknowingly."""
    payload = _payload(n_errors=n_errors)
    out = compact(payload, budget=1900)
    assert len(json.dumps(out)) <= 1900
    for k in ("nproc", "defaultParallelism", "spark.master", "commit"):
        assert out[k] == payload["host"][k]
    assert len(out["queries"]) > 0


def test_no_errors_path_unchanged(compact):
    out = compact(_payload(n_errors=0), budget=1900)
    assert len(json.dumps(out)) <= 1900
    assert out["error_names"] == []
    assert out["n_errors"] == 0
    assert len(out["queries"]) > 0


@pytest.fixture(scope="module")
def bench_mod():
    spec = importlib.util.spec_from_file_location("bench_under_test2", _BENCH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write_history(tmp_path, entries, pins):
    hist = tmp_path / "BENCH_HISTORY.jsonl"
    with open(hist, "w") as fh:
        for e in entries:
            fh.write(json.dumps(e) + "\n")
    with open(tmp_path / "BENCH_PINS.json", "w") as fh:
        json.dump(pins, fh)
    return str(hist)


def test_phase_ratio_median_vs_pins(bench_mod, tmp_path):
    """r11 host-phase canary: median min-ratio of the canary queries
    vs the pinned entries' (median) per-query values."""
    pin_entry = {
        "run_id": "pin1",
        "sf": 0.1,
        "queries": {"a": 0.1, "b": 0.2, "c": 0.4, "d": 1.0},
    }
    hist = _write_history(tmp_path, [pin_entry], {"0.1": ["pin1"]})
    ratio, detail = bench_mod._phase_ratio(
        {"a": 0.2, "b": 0.4, "c": 0.4}, 0.1, hist
    )
    assert ratio == 2.0  # median of [2.0, 2.0, 1.0]
    assert detail["a"] == {"min": 0.2, "pin": 0.1}
    # fewer than 3 canaries with pins -> no phase estimate
    ratio2, _ = bench_mod._phase_ratio({"a": 0.2, "zz": 9.9}, 0.1, hist)
    assert ratio2 is None
    # unpinned SF -> no estimate either
    ratio3, _ = bench_mod._phase_ratio({"a": 0.2, "b": 0.4, "c": 0.4}, 1.0, hist)
    assert ratio3 is None


def test_history_ratio_label_names_only_contributing_pins(bench_mod, tmp_path):
    """r11 ADVICE: a pin the <20-shared-queries guard excluded must
    not be credited in the band_reference label."""
    qs_full = {f"q{i:02d}": 1.0 for i in range(25)}
    contributing = {"run_id": "good", "sf": 0.1, "queries": qs_full}
    excluded = {"run_id": "tiny", "sf": 0.1, "queries": {"q00": 1.0}}
    hist = _write_history(
        tmp_path, [contributing, excluded], {"0.1": ["good", "tiny"]}
    )
    timings = {k: 1.5 for k in qs_full}
    ratio, label = bench_mod._history_ratio(timings, 0.1, hist)
    assert ratio == 1.5
    assert label == "pinned:good"
