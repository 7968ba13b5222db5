"""Pure helpers shared by the runner and the trace reader (no Spark).

- :func:`parse_sql_metric` turns the formatted strings Spark's SQL status
  store keeps (``'1,000'``, ``'616.3 KiB'``, ``'1.5 m'`` and the two-line
  ``'total (min, med, max (stageId: taskId))\\n1.0 s (...)'`` form) into a
  number in base units: seconds for times, bytes for sizes, a count
  otherwise.
- :func:`summarize` reports a sample as its median with the sample count.
- :class:`RunLedger` counts attempted and failed runs for ``fail_frac``.
- :func:`ratio` keeps a ratio together with the base it was taken over.
"""

from __future__ import annotations

import re
import statistics
from dataclasses import dataclass

_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_NUM_UNIT = re.compile(r"^(-?[\d,]*\.?\d+(?:[eE][-+]?\d+)?)\s*([A-Za-z]*)$")


def parse_sql_metric(text: str) -> float:
    """Value of one formatted SQL metric, in seconds, bytes or a count.

    The two-line ``total (min, med, max ...)`` form yields its total (the
    first number of the second line); the ``(min, med, max ...):`` form of
    per-task averages, which has no total, yields its median. Raises
    ``ValueError`` on a string in none of the known forms."""
    s = text.strip()
    if s.startswith("total"):
        lines = s.split("\n", 1)
        if len(lines) != 2:
            raise ValueError(f"unparsable SQL metric {text!r}")
        s = lines[1].split("(", 1)[0].strip()
    elif s.startswith("(min, med, max"):
        # average metrics have no total: "(min, med, max ...):\n(1, 2, 3 (...))"
        lines = s.split("\n", 1)
        parts = lines[1].lstrip("(").split(", ") if len(lines) == 2 else []
        if len(parts) < 3:
            raise ValueError(f"unparsable SQL metric {text!r}")
        s = parts[1].strip()
    m = _NUM_UNIT.match(s)
    if m is None:
        raise ValueError(f"unparsable SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit == "":
        return value
    if unit in _TIME:
        return value * _TIME[unit]
    if unit in _SIZE:
        return value * _SIZE[unit]
    raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")


def summarize(values: list[float]) -> dict:
    """Median, quartiles and sample count of a non-empty sample."""
    if not values:
        raise ValueError("summarize() needs at least one value")
    vals = sorted(values)
    if len(vals) == 1:
        q1 = q3 = vals[0]
    else:
        q1, _, q3 = statistics.quantiles(vals, n=4)
    return {"median": statistics.median(vals), "q1": q1, "q3": q3, "n": len(vals)}


def ratio(num: float, base: float) -> dict:
    """``num / base`` with its base kept beside it; 0 when the base is 0
    (no work was attempted, so nothing was wasted either)."""
    return {"value": (num / base) if base else 0.0, "num": num, "base": base}


@dataclass
class RunLedger:
    """Attempted and failed timed runs of one workload.

    A run fails when it raised, timed out, or its output check found a
    mismatch; only runs that did not fail contribute timings."""

    attempted: int = 0
    failed: int = 0

    def record(self, problems: list[str]) -> bool:
        """Count one run; ``problems`` is empty for a correct run."""
        self.attempted += 1
        if problems:
            self.failed += 1
        return not problems

    @property
    def fail_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
