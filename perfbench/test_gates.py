"""Self-test of the benchmark's correctness gates.

Each gate first accepts a correct result, then must reject the same
result with one row dropped, one row duplicated and one value changed.
Runs without Spark (the dashboard case reads its DuckDB twin from the
committed golden fixture):

    python3 -m pytest perfbench/test_gates.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

import gates
import trade_stream

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WIRE_FIXTURE = os.path.join(ROOT, "tests", "fixtures", "wire_golden_seed42_n8.jsonl")


def _wire_lines() -> list[str]:
    with open(WIRE_FIXTURE) as fh:
        return fh.read().splitlines()


def _perturbations(rows: list, change):
    """(label, perturbed copy) for a dropped, a duplicated and a changed row."""
    return [
        ("dropped", rows[1:]),
        ("duplicated", rows + [rows[0]]),
        ("changed", [change(rows[0])] + rows[1:]),
    ]


def test_exactly_once_gate():
    lines = _wire_lines()
    by_file = [[trade_stream.content_key(x) for x in lines[:4]],
               [trade_stream.content_key(x) for x in lines[4:]]]
    landed = [k for keys in by_file for k in keys]
    assert gates.exactly_once(by_file, landed) == (set(), 0)
    altered = trade_stream.content_key(lines[0].replace('"side":"Sell"', '"side":"Buy"'))
    assert altered != landed[0]
    for label, bad in _perturbations(landed, lambda k: altered):
        failed, _ = gates.exactly_once(by_file, bad)
        assert failed == {0}, label
    assert gates.exactly_once([[], []], []) != (set(), 0)


def test_minute_gate():
    # Spread the fixture's trades over three minutes.
    lines = [x.replace('"timestamp":"2026-01-05T09:30', f'"timestamp":"2026-01-05T09:3{i % 3}')
             for i, x in enumerate(_wire_lines())]
    reference = trade_stream.minute_reference(lines)
    assert len(reference) == 3
    last = max(reference)
    watermark = gates._minute_end(last)
    emitted = [(w, n, s) for w, (n, s) in sorted(reference.items())]
    assert gates.minute_totals(reference, emitted, watermark) == []
    for label, bad in _perturbations(emitted, lambda r: (r[0], r[1], r[2] + 0.01)):
        assert gates.minute_totals(reference, bad, watermark), label
    recount = [(emitted[0][0], emitted[0][1] + 1, emitted[0][2])] + emitted[1:]
    assert gates.minute_totals(reference, recount, watermark)
    assert gates.minute_totals(reference, [], "2000-01-01T00:00")  # nothing due


@pytest.mark.parametrize("frame", ["dash_kpis", "dash_recent_trades", "dash_status_distribution"])
def test_frame_gate(frame):
    sys.path.insert(0, ROOT)
    import dashboard_refresh

    cols, rows = dashboard_refresh.oracle_results([frame])[frame]
    assert gates.frame_matches(cols, list(rows), cols, rows) is None
    # Column order is free, as in the oracle harness.
    flipped = cols[::-1]
    assert gates.frame_matches(flipped, [tuple(r[::-1]) for r in rows], cols, rows) is None

    def change(row):
        first = row[0]
        return (first + 1 if isinstance(first, (int, float)) else f"{first}x",) + tuple(row[1:])

    for label, bad in _perturbations(list(rows), change):
        if label == "dropped" and len(rows) == 1:
            bad = []
        assert gates.frame_matches(cols, bad, cols, rows), label
    assert gates.frame_matches(cols, [], cols, []) is not None


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
