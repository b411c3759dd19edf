"""Pure helpers: Spark SQL metric strings, quartiles and the oracle check."""

from __future__ import annotations

import re
import statistics
from collections import Counter

_SCALE = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
    "TiB": 2.0 ** 40, "PiB": 2.0 ** 50, "EiB": 2.0 ** 60,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?\s*$")


def _value(text: str) -> float:
    m = _VALUE.match(text)
    if m is None:
        raise ValueError(f"not a Spark metric value: {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return number
    if unit not in _SCALE:
        raise ValueError(f"unknown Spark metric unit {unit!r} in {text!r}")
    return number * _SCALE[unit]


def parse_metric(text: str) -> dict:
    """Parse one rendered SQL metric into base units (seconds, bytes, counts).

    Spark renders a per-task metric as two lines,
    ``total (min, med, max (stageId: taskId))`` then
    ``5.4 s (1.3 s, 1.4 s, 1.4 s (stage 19.0: task 37))``, and a driver-side
    one as a single value such as ``23,510``, ``25 ms`` or ``3.9 MiB``.
    Returns ``{"total": ...}`` plus ``min``/``med``/``max`` when present.
    """
    body = text.split("\n", 1)[1] if "\n" in text else text
    head, paren, rest = body.partition("(")
    out = {"total": _value(head)}
    if paren:
        parts = rest.split("(", 1)[0].split(", ")
        if len(parts) == 3:
            out.update(zip(("min", "med", "max"), (_value(p) for p in parts)))
    return out


def quartiles(values) -> tuple:
    """(q1, median, q3) by ``statistics.quantiles(values, n=4)``; a single
    value is its own quartiles."""
    values = list(values)
    if not values:
        raise ValueError("quartiles of no values")
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def spread(values) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def failures(expected: dict, got) -> set:
    """Keys of turns that are missing, duplicated, unexpected or different.

    ``expected`` maps a turn key to its oracle answer; ``got`` yields
    ``(key, answer)`` pairs as the program produced them.
    """
    seen = Counter()
    bad = set()
    for key, answer in got:
        seen[key] += 1
        if seen[key] > 1 or key not in expected or answer != expected[key]:
            bad.add(key)
    return bad | {key for key in expected if key not in seen}
