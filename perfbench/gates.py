"""Correctness gates. Each takes plain Python data and returns what is
wrong with it, so the self-test can feed it perturbed results.

A gate never passes on empty input: the expected side is built from the
benchmark's own staged data or from an independent DuckDB twin, and
every expected row must be matched.
"""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter


def exactly_once(expected_by_file: list[list[str]], landed: list[str]) -> tuple[set[int], int]:
    """Check a sink against the staged input.

    ``expected_by_file[i]`` lists the content keys (hash of the full
    wire record) of the valid trades first sent in file ``i``;
    ``landed`` lists the content keys of the rows in the sink.
    Returns the files that have a trade missing, duplicated or altered,
    and the number of sink rows that match no staged trade.
    """
    if not any(expected_by_file):
        return {0}, len(landed)  # nothing expected: refuse, never pass vacuously
    counts = Counter(landed)
    failed = {
        i for i, keys in enumerate(expected_by_file) if any(counts.get(k, 0) != 1 for k in keys)
    }
    expected = {k for keys in expected_by_file for k in keys}
    unexpected = sum(c for k, c in counts.items() if k not in expected)
    return failed, unexpected


def minute_totals(
    reference: dict[str, tuple[int, float]], emitted: list[tuple[str, int, float]], watermark: str
) -> list[str]:
    """Compare the streamed minute windows with a batch recompute.

    ``reference`` maps a window start ('YYYY-MM-DDTHH:MM') to (trade
    count, notional sum); ``emitted`` holds the streamed windows as
    (start, count, sum). In append mode exactly the windows that end at
    or before the final ``watermark`` (same format) have been emitted.
    Returns one message per problem.
    """
    problems = []
    due = {w: v for w, v in reference.items() if _minute_end(w) <= watermark}
    if not due:
        problems.append("no window is due: the gate would be vacuous")
    seen: Counter[str] = Counter()
    for start, n, total in emitted:
        seen[start] += 1
        if start not in due:
            problems.append(f"window {start} emitted but not due")
        elif (n, total) != due[start]:
            problems.append(f"window {start}: streamed {(n, total)} != batch {due[start]}")
    problems += [f"window {w} emitted {c} times" for w, c in seen.items() if c > 1]
    problems += [f"window {w} due but not emitted" for w in due if w not in seen]
    return problems


def _minute_end(start: str) -> str:
    end = dt.datetime.strptime(start, "%Y-%m-%dT%H:%M") + dt.timedelta(minutes=1)
    return end.strftime("%Y-%m-%dT%H:%M")


def _norm(v):
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _key(row):
    return tuple((type(v).__name__, str(v)) for v in row)


def frame_matches(
    cols: list[str], rows: list[tuple], oracle_cols: list[str], oracle_rows: list[tuple]
) -> str | None:
    """Exact, order-insensitive comparison of a Spark frame with its
    DuckDB twin. Returns a message on mismatch, None when equal."""
    if sorted(cols) != sorted(oracle_cols):
        return f"columns {sorted(cols)} != {sorted(oracle_cols)}"
    if not oracle_rows:
        return "oracle returned no rows: the gate would be vacuous"
    pos = [cols.index(c) for c in oracle_cols]
    mine = sorted(([_norm(r[p]) for p in pos] for r in rows), key=_key)
    theirs = sorted(([_norm(v) for v in r] for r in oracle_rows), key=_key)
    if len(mine) != len(theirs):
        return f"{len(mine)} rows != {len(theirs)}"
    for i, (a, b) in enumerate(zip(mine, theirs)):
        if a != b:
            return f"sorted row {i}: {a} != {b}"
    return None
