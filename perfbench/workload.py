"""Types shared by the workloads: the op record and result comparison."""

from __future__ import annotations

import math
from dataclasses import dataclass, field


@dataclass
class Op:
    kind: str
    name: str
    args: dict = field(default_factory=dict)


def same(got, want) -> bool:
    """Equal results: sequences element-wise, numbers to 1e-9 relative
    (engines round and sum floats in different orders), the rest by ``==``."""
    if isinstance(got, (list, tuple)) and isinstance(want, (list, tuple)):
        return len(got) == len(want) and all(same(g, w) for g, w in zip(got, want))
    if isinstance(got, bool) or isinstance(want, bool):
        return got == want
    if isinstance(got, (int, float)) and isinstance(want, (int, float)):
        return math.isclose(float(got), float(want), rel_tol=1e-9, abs_tol=1e-9)
    if hasattr(want, "__float__") and isinstance(got, (int, float)):  # Decimal
        return math.isclose(float(got), float(want), rel_tol=1e-9, abs_tol=1e-9)
    return got == want
