"""Summary statistics, the operation ledger and the result line.

Percentile rule: a tail is reported at the highest percentile that has at
least ten samples beyond it (nearest-rank), so the sample count, not a
fixed label, decides how far into the tail a run can see.
"""

from __future__ import annotations

import json
import math
import re
from dataclasses import dataclass, field

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if not n:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples."""
    return max(1, math.ceil(round(p * n / 100, 9)))


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    return s[_rank(p, len(s)) - 1]


def tail_percentile(n: int) -> float | None:
    """Highest candidate percentile with at least 10 of ``n`` samples
    beyond it, or None when even the median lacks them."""
    for p in TAIL_CANDIDATES:
        if n - _rank(p, n) >= 10:
            return p
    return None


@dataclass
class Op:
    """One timed call into the program."""
    kind: str
    name: str
    seconds: float
    error: str | None = None


@dataclass
class Ledger:
    """Every operation attempted in the timed region; an operation fails
    when it raises or when its output check fails afterwards."""
    ops: list[Op] = field(default_factory=list)

    def add(self, kind: str, name: str, seconds: float,
            error: str | None = None) -> Op:
        op = Op(kind, name, seconds, error)
        self.ops.append(op)
        return op

    def fail(self, op: Op, reason: str) -> None:
        if op.error is None:
            op.error = reason

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(op.error is not None for op in self.ops)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.ops else 1.0


def result_line(ledger: Ledger, metrics: dict[str, tuple[float, str]]) -> str:
    """The last stdout line: one JSON object with exactly ``correct``,
    ``attempted``, ``failed`` and ``metrics``."""
    for name, (_, unit) in metrics.items():
        if not NAME_RE.fullmatch(name) or not UNIT_RE.fullmatch(unit):
            raise ValueError(f"bad metric name or unit: {name!r} {unit!r}")
    return json.dumps({
        "correct": ledger.failed == 0 and ledger.attempted > 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    })
