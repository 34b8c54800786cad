"""What a workload hands the runner: operations split into timed steps.

An operation is one user-visible call into the engine (a cube written
to CSV, a query collected, an index written). Spark is lazy, so a
layer's time is taken as the difference between timed prefixes of the
same pipeline: each ``Step`` but the last ends in a noop sink, and a
step's self time is its own time minus the times of its ``base`` steps.
The last step is the operation itself; its result is checked.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field


class CheckFailed(AssertionError):
    """An engine output disagrees with the benchmark's own computation."""


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


@dataclass
class Step:
    metric: str  # per-layer name, e.g. "sources.bin_decode_s"
    layer: str  # "sources", "operators" or "sinks"
    run: Callable[[], object]
    base: list[str] = field(default_factory=list)
    rows: int = 0  # source rows this step reads (sources steps only)


@dataclass
class Op:
    name: str
    kind: str  # "read" or "write"
    steps: list[Step]  # prefixes first; steps[-1] is the operation
    check: Callable[[object], None]
    read_bytes: int = 0  # input bytes no SQL scan metric reports
    known_fault: bool = False  # fails on every run: counted, not a wrong answer

    @property
    def full(self) -> Step:
        return self.steps[-1]


def noop(df) -> None:
    """Run a DataFrame to completion without keeping or writing rows."""
    df.write.format("noop").mode("overwrite").save()


def normalize(rows, columns):
    """Rows as sorted tuples with columns in name order; floats by repr,
    so the comparison is exact, not approximate."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def cell(v):
        if isinstance(v, float):
            return ("f", repr(v))
        if v is None:
            return ("n",)
        if hasattr(v, "isoformat"):
            return ("t", v.isoformat())
        if isinstance(v, (list, tuple)):
            return ("l", tuple(cell(x) for x in v))
        return (type(v).__name__[0], v)

    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) stored under ``path``; hidden and
    underscore-prefixed files (markers, checksums) are not data."""
    import os

    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += not n.startswith((".", "_"))
    return total, files
