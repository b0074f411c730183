"""bench.py's capped stdout line: which queries it shows (no Spark)."""

import json

import bench

BASE = {"metric": "headline_queries_total", "value": 123.456, "unit": "sec",
        "n_queries": 0, "sf": 0.1}


def _chars(line: dict) -> int:
    return len(json.dumps(line, separators=(",", ":")))


def test_regressed_new_query_is_shown_within_budget():
    """Last round's shown set alone overflows the budget, yet a new query
    that regressed into the slowest set still appears."""
    names = [f"carried_over_query_number_{i:03d}" for i in range(120)]
    carry = {name: 10.0 + i for i, name in enumerate(names)}
    timings = dict(carry)
    timings["new_query_that_regressed"] = 50.0
    timings["fast_new_query"] = 0.001
    line = bench.capped_line(BASE, timings, carry)
    assert "new_query_that_regressed" in line["queries"]
    assert _chars(line) <= bench.STDOUT_BUDGET
    assert line["queries_shown"] == len(line["queries"])
    shown_carry = [n for n in line["queries"] if n in carry]
    assert shown_carry == sorted(carry, key=carry.get,
                                 reverse=True)[:len(shown_carry)]


def test_improved_carried_query_keeps_its_slot():
    """Carried-over queries are ranked by last round's times, so one that
    became the fastest of all this round is still shown and its win
    stays in the round-over-round compare."""
    names = [f"carried_over_query_number_{i:03d}" for i in range(120)]
    carry = {name: 10.0 + i for i, name in enumerate(names)}
    timings = dict(carry)
    timings[names[-1]] = 0.0001
    line = bench.capped_line(BASE, timings, carry)
    assert names[-1] in line["queries"]
    assert len(line["queries"]) < len(names)
    assert _chars(line) <= bench.STDOUT_BUDGET


def test_name_that_does_not_fit_is_skipped_not_the_end():
    timings = {"x" * 1700: 9.0, "short": 1.0}
    line = bench.capped_line(BASE, timings, {})
    assert list(line["queries"]) == ["short"]
    assert _chars(line) <= bench.STDOUT_BUDGET


def test_reserve_is_handed_back_when_nothing_else_needs_it():
    """With no queries outside the carryover, carried-over ones fill the
    whole budget, not just its non-reserved part."""
    carry = {f"carried_over_query_number_{i:03d}": 1.0 for i in range(120)}
    line = bench.capped_line(BASE, dict(carry), carry)
    assert _chars(line) > bench.STDOUT_BUDGET * (1 - bench.SHOWN_RESERVE)
    assert _chars(line) <= bench.STDOUT_BUDGET


def test_carryover_is_the_newest_parsed_committed_round(tmp_path):
    def write(name, queries):
        parsed = None if queries is None else {
            "queries": dict.fromkeys(queries, 1.0)}
        (tmp_path / name).write_text(json.dumps({"parsed": parsed}))

    write("BENCH_r9.json", ["old"])
    write("BENCH_r10.json", ["new_a", "new_b"])
    write("BENCH_r10_c8.json", ["eight_core"])
    assert bench.last_shown(str(tmp_path)) == {"new_a": 1.0, "new_b": 1.0}
    # A round whose stdout the driver could not parse is stored as
    # "parsed": null; the carryover falls back to the newest parsed one.
    write("BENCH_r11.json", None)
    (tmp_path / "BENCH_r12.json").write_text(json.dumps({"parsed": {}}))
    assert bench.last_shown(str(tmp_path)) == {"new_a": 1.0, "new_b": 1.0}
    empty = tmp_path / "empty"
    empty.mkdir()
    assert bench.last_shown(str(empty)) == {}
