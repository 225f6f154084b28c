"""Shared measurement plumbing: spans, percentiles and /proc counters.

Everything here observes the program from outside: spans wrap calls into a
layer's public functions, counters come from ``/proc`` and from Spark's
status tracker, never from instrumentation inside the program.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

_NULL = contextlib.nullcontext()


class Tracer:
    """In-memory spans, written out once when the run ends.

    A span is ``[name, start, end, parent index, request id]``; children of
    one request share its id.  Disabled tracers hand out a shared null
    context, so the untraced run pays one attribute test per boundary.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.request_id = 0

    def span(self, name: str):
        return self._span(name) if self.enabled else _NULL

    @contextlib.contextmanager
    def _span(self, name: str):
        rec = [
            name,
            time.perf_counter(),
            None,
            self._stack[-1] if self._stack else None,
            self.request_id,
        ]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name and s[2] is not None]

    def self_seconds_by_layer(self) -> dict[str, float]:
        """Self time (duration minus child spans) summed per layer.

        The layer is the span name's first dotted component, so
        ``directory.describe_table`` counts toward ``directory``.
        """
        child = [0.0] * len(self.spans)
        for name, start, end, parent, _ in self.spans:
            if parent is not None and end is not None:
                child[parent] += end - start
        out: dict[str, float] = defaultdict(float)
        for i, (name, start, end, _, _) in enumerate(self.spans):
            if end is not None:
                out[name.split(".", 1)[0]] += end - start - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, rid in self.spans:
                f.write(
                    json.dumps(
                        {"name": name, "start": start, "end": end, "parent": parent, "request": rid}
                    )
                    + "\n"
                )


class Load:
    """One closed-loop client: runs requests pass by pass and counts failures.

    ``mix`` is ``((kind, requests per pass), ...)``; every pass holds exactly
    those counts in seeded order, so the run-to-run spread comes from the
    system, not from how many slow requests a random draw picked.  A request
    is ``self.request(kind)``, which returns True or a description of the
    wrong result; a raised exception is a failure too.
    """

    workload = ""
    mix: tuple[tuple[str, int], ...] = ()

    def __init__(self, ctx, rng):
        self.ctx, self.rng, self.tracer = ctx, rng, ctx.tracer
        self.pass_ops = sum(n for _, n in self.mix)
        self.schedule: list[str] = []
        self.attempted = self.failed = 0

    def request(self, kind: str):
        return getattr(self, kind)()

    def step(self, kind: str | None = None) -> None:
        if kind is None:
            if not self.schedule:
                self.schedule = [k for k, n in self.mix for _ in range(n)]
                self.rng.shuffle(self.schedule)
            kind = self.schedule.pop()
        self.tracer.request_id += 1
        try:
            with self.tracer.span(f"request.{kind}"):
                ok = self.request(kind)
        except Exception as exc:
            ok = f"{type(exc).__name__}: {exc}"
        self.record(kind, ok)

    def record(self, kind: str, ok) -> None:
        self.attempted += 1
        if ok is not True:
            self.failed += 1
            if len(self.ctx.failures) < 5:
                self.ctx.failures.append(f"{self.workload} {kind}: {ok}")


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    if not values:
        return 0.0
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def halves_ratio(values: list[float]) -> float:
    """Median of the first half of a series over the median of the second.

    Near 1.0 when the warm-up was long enough: a drifting (still warming)
    system reads above 1.  Fewer than two values have no halves: 0.
    """
    if len(values) < 2:
        return 0.0
    mid = len(values) // 2
    second = median(values[mid:])
    return median(values[:mid]) / second if second else 1.0


def proc_io(pid: int | str = "self") -> tuple[int, int]:
    """``(rchar, wchar)`` from ``/proc/<pid>/io``."""
    with open(f"/proc/{pid}/io") as f:
        fields = dict(line.split(":", 1) for line in f)
    return int(fields["rchar"]), int(fields["wchar"])


def _status_mb(pid: int | str, field: str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(pid: int | str = "self") -> float:
    """Peak resident set size (``VmHWM``) of ``pid`` in MiB."""
    return _status_mb(pid, "VmHWM")


def rss_mb(pid: int | str = "self") -> float:
    """Current resident set size (``VmRSS``) of ``pid`` in MiB."""
    return _status_mb(pid, "VmRSS")


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (from /proc/self/mounts)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/self/mounts") as f:
        for line in f:
            _, mnt, fstype = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, kind = mnt, fstype
    return kind


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(setup_s, n_ops, elapsed, reads, passes, resident_mb) -> dict:
    """The end-to-end metrics every workload reports (latencies in seconds)."""
    return {
        "setup_s": metric(setup_s, "s"),
        "ops_per_s": metric(n_ops / elapsed, "1/s"),
        "read_p50_ms": metric(median(reads) * 1e3, "ms"),
        "read_p95_ms": metric(percentile(reads, 95) * 1e3, "ms"),
        "pass_s": metric(median(passes), "s"),
        "resident_mb": metric(resident_mb, "MB"),
    }
