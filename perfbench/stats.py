"""Percentiles under the benchmark's sample rule, and the metric report."""
import math
from dataclasses import dataclass

MIN_BEYOND = 10


@dataclass
class Percentile:
    p: float
    value: float
    n: int
    beyond: int

    @property
    def counts(self):
        """A percentile counts only when at least ten samples lie beyond it."""
        return self.beyond >= MIN_BEYOND


def percentile(samples, p):
    """The percentile by linear interpolation between closest ranks, with
    the number of samples above it."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return Percentile(p, float("nan"), 0, 0)
    pos = p * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    value = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    return Percentile(p, value, n, sum(1 for x in xs if x > value))


class Report:
    def __init__(self):
        self.lines = []

    def add(self, name, value, unit, note=""):
        self.lines.append(f"  {name:<18} {value:12.6g} {unit:<6} {note}")

    def pct(self, name, pc):
        rule = "counts" if pc.counts else f"does not count (< {MIN_BEYOND} beyond)"
        self.add(name, pc.value, "s", f"n={pc.n}, {pc.beyond} beyond, {rule}")

    def text(self):
        return "\n".join(self.lines)
