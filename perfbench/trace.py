"""Tracing done from the benchmark's side of each layer boundary.

Nothing here changes the program: spans wrap the public methods of the
objects the benchmark created, the py4j counter wraps the gateway
client's ``send_command`` on its instance, and Spark jobs are tagged
with job groups so the event log can attribute them.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field


class Py4jCounter:
    """Counts driver -> JVM py4j round trips."""

    def __init__(self, spark):
        self.calls = 0
        self._client = spark.sparkContext._gateway._gateway_client
        original = self._client.send_command

        def send_command(*args, **kwargs):
            self.calls += 1
            return original(*args, **kwargs)

        self._client.send_command = send_command

    def close(self) -> None:
        del self._client.send_command  # back to the class method


def job_group(spark, group: str) -> None:
    """Tag the Spark jobs this thread launches from now on."""
    spark.sparkContext.setJobGroup(group, group)


@dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float = 0.0
    children: list["Span"] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def child_seconds(self, layer: str) -> float:
        """Time covered by the outermost descendants in ``layer``."""
        total = 0.0
        for c in self.children:
            total += c.seconds if c.layer == layer else c.child_seconds(layer)
        return total


class Spans:
    """Records nested spans around wrapped methods, in memory."""

    def __init__(self):
        self.enabled = True
        self.roots: list[Span] = []
        self._stack: list[Span] = []

    def wrap(self, obj, layer: str, names) -> None:
        """Replace each named method on the instance ``obj`` by a
        span-recording wrapper."""
        for name in names:
            setattr(obj, name, self._wrapped(getattr(obj, name), layer, name))

    def _wrapped(self, method, layer: str, name: str):
        def call(*args, **kwargs):
            if not self.enabled:
                return method(*args, **kwargs)
            span = Span(layer, name, time.perf_counter())
            parent = self._stack[-1].children if self._stack else self.roots
            parent.append(span)
            self._stack.append(span)
            try:
                return method(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                self._stack.pop()

        return call

    def take(self) -> list[Span]:
        """The root spans recorded since the last call."""
        roots, self.roots = self.roots, []
        return roots


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM, in MiB."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
