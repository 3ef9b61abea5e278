"""Helpers shared by the workloads: percentiles, result comparison, the
measured loop's samples and the workload interface."""

from __future__ import annotations

import math
import sys
from dataclasses import dataclass, field

#: Doubles are compared after rounding to this many digits, as the
#: repository's tests do, with a relative tolerance on top so that
#: summation-order differences in the last bits never count as a
#: mismatch.
NDIGITS = 4
REL_TOL = 1e-9


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-quantile (0 <= q <= 1)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, NDIGITS)
    return v


def canonical(rows) -> list[tuple]:
    """Order-insensitive form of a result: tuples sorted by their
    rounded representation."""
    return sorted((tuple(r) for r in rows),
                  key=lambda r: repr(tuple(_norm(v) for v in r)))


def same_rows(got, want) -> bool:
    """Whether two results hold the same rows, in any order; doubles
    are equal when they round alike or are within ``REL_TOL``."""
    got, want = canonical(got), canonical(want)
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None:
                    if a is not b:
                        return False
                elif not (_norm(float(a)) == _norm(float(b))
                          or math.isclose(a, b, rel_tol=REL_TOL)):
                    return False
            elif a != b:
                return False
    return True


@dataclass
class Sample:
    """One timed operation of the measured loop.  ``ref`` names the
    operation in the plan, so the reference check can find its right
    answer; ``got`` is what the program returned.  A ``ref`` of None
    marks an operation with no answer to check (a commit)."""
    kind: str
    seconds: float
    ref: object = None
    got: object = None


@dataclass
class Loop:
    """Samples of the measured loop, operations that raised, and the
    loop's wall-clock span."""
    samples: list[Sample] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)
    started: float = 0.0
    ended: float = 0.0

    def add(self, kind: str, seconds: float, ref=None, got=None) -> None:
        self.samples.append(Sample(kind, seconds, ref, got))

    @property
    def elapsed(self) -> float:
        return self.ended - self.started


class Workload:
    """The steps ``run.py`` drives, in order: ``setup`` (several times,
    timed into ``setup_s``), ``plan_metrics`` (traced runs only),
    ``warmup``, ``run`` (the measured loop), ``finish`` (outputs of the
    final state).  ``ctx.plan`` holds the inputs ``reference.py
    prepare`` drew from the seed; the answers are checked afterwards,
    by ``reference.py check``, so the measured loop only runs the
    program and records what it returned."""

    #: percentile reported as ``op_tail_ms``
    tail_q = 0.75
    #: sample kinds whose latencies make ``op_p50_ms`` / ``op_tail_ms``
    primary: frozenset = frozenset()

    def __init__(self, ctx):
        self.ctx = ctx
        self.plan = ctx.plan

    def setup(self) -> None:
        raise NotImplementedError

    def plan_metrics(self) -> dict[str, float]:
        return {}

    def warmup(self) -> None:
        pass

    def run(self, deadline: float, loop: Loop) -> None:
        raise NotImplementedError

    def finish(self) -> list[tuple]:
        """``(ref, got)`` outputs of the final state, checked like the
        loop's."""
        return []

    def describe(self) -> dict:
        """Settings and counts for the ``info`` line."""
        return {}

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer metrics only this workload can give."""
        return {}


def rows_of(df_rows) -> list[tuple]:
    """Spark rows as plain tuples, for pickling to the check."""
    return [tuple(r) for r in df_rows]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
