"""Run bookkeeping shared by the workloads: timed ops, spans, failures.

A workload calls ``run.op(kind, fn)`` for every operation it times. In
the warm-up phase the call runs ``fn`` untimed; in the measured phase
it records the op's wall time under ``kind`` and, in a traced run, its
epoch-millisecond span for the event-log parser. Ops run in rounds of
one op per kind; the first round due after ``seconds`` of measuring
raises ``TimeUp`` instead of starting, which ends the measured phase.
Whole rounds give every kind the same number of samples, so a kind's
median never rests on fewer, colder samples than the others'. An op
that raises is counted as failed and ends the measured phase: a CDC
mirror whose apply failed is in an unknown state, so later ops would
not measure the workload any more.
"""

from __future__ import annotations

import sys
import time
import traceback
from dataclasses import dataclass, field

from eventlog import Span


class OpFailed(RuntimeError):
    """Raised after a timed op failed; the workload stops measuring."""


class TimeUp(Exception):
    """Raised instead of starting a round once the measured time is over."""


STOP = (OpFailed, TimeUp)


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    spark: object = None
    measuring: bool = False
    samples: dict[str, list[float]] = field(default_factory=dict)
    spans: list[Span] = field(default_factory=list)
    setup_s: list[float] = field(default_factory=list)
    session_start_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    # Per-op layer samples (kind -> list), reported as medians.
    layer_samples: dict[str, list[float]] = field(default_factory=dict)
    # Per-layer values computed once per run.
    layer: dict[str, float] = field(default_factory=dict)
    # Items each measured op moved (change events committed, result
    # rows returned), per kind, in the order of ``samples[kind]``.
    items: dict[str, list[int]] = field(default_factory=dict)
    deadline: float = 0.0
    # Wall seconds per run phase, in order (see ``mark``).
    phases: dict[str, float] = field(default_factory=dict)
    _last_mark: float = field(default_factory=time.perf_counter)
    # Input size, for the result's environment stamp.
    scale: str = ""
    # Table loads per "setup.load" span (for sources.load_jobs).
    loads_per_span: int = 1

    def declare(self, *kinds: str) -> None:
        """The op kinds the workload times; each must get samples."""
        for k in kinds:
            self.samples.setdefault(k, [])

    def mark(self, phase: str) -> None:
        """Close ``phase``: record the wall time since the last mark."""
        now = time.perf_counter()
        self.phases[phase] = self.phases.get(phase, 0.0) + now - self._last_mark
        self._last_mark = now

    def start_measuring(self) -> None:
        self.mark("warmup")
        self.measuring = True
        self.deadline = time.perf_counter() + self.seconds

    def next_round(self) -> None:
        """Call before each round of ops; raises TimeUp once the
        measured time is over."""
        if self.measuring and time.perf_counter() >= self.deadline:
            raise TimeUp

    def op(self, kind: str, fn, items=None):
        """Run one op; when measuring, time it and count it attempted.
        ``items(out)``, if given, counts the items the op moved."""
        if not self.measuring:
            return fn()
        self.attempted += 1
        wall0 = time.time()
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # the op's failure is the measurement
            self.failed += 1
            self.errors.append(f"{kind}: {e!r}")
            traceback.print_exc(file=sys.stderr)
            raise OpFailed(kind) from e
        dt = time.perf_counter() - t0
        self.samples.setdefault(kind, []).append(dt)
        if self.trace:
            self.spans.append(Span(kind, wall0 * 1000.0, time.time() * 1000.0))
        if items is not None:
            self.items.setdefault(kind, []).append(items(out))
        return out

    def span(self, kind: str, fn):
        """Run an untimed step; in a traced run record its span (set-up
        steps whose jobs the per-layer metrics count)."""
        wall0 = time.time()
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        if self.trace:
            self.spans.append(Span(kind, wall0 * 1000.0, time.time() * 1000.0))
        return out, dt

    def check(self, ok: bool, what: str) -> None:
        """Record a correctness check; a mismatch is a failed op."""
        if not ok:
            self.failed += 1
            self.errors.append(f"mismatch: {what}")
            print(f"perfbench: mismatch: {what}", file=sys.stderr)

    def sample(self, name: str, value: float) -> None:
        self.layer_samples.setdefault(name, []).append(value)
