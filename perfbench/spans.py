"""In-memory spans and the query-plan capture of the traced run."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    job: str
    parent: int | None
    start: float
    end: float = 0.0
    id: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around calls into the program, kept in memory until ``dump``.

    A span's parent is the span open when it started; every span carries
    the id of the benchmark job it belongs to. A disabled tracer records
    nothing, so the same workload code runs traced and untraced.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.job = "setup"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sp = Span(name, self.job, self._stack[-1] if self._stack else None,
                  time.perf_counter(), id=len(self.spans))
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as JSON lines."""
        st = self_times(self.spans)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({**asdict(sp), "self": st[sp.id]}) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the union of its children's intervals
    (children never overlap in a single-threaded process; the union keeps
    the rule exact either way)."""
    kids: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        covered = 0.0
        cur_s = cur_e = None
        for k in sorted(kids.get(sp.id, []), key=lambda k: k.start):
            s, e = max(k.start, sp.start), min(k.end, sp.end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sp.id] = sp.dur - covered
    return out


class QueryCapture:
    """Collects the executed plan of every SQL execution while attached.

    Registered as a ``QueryExecutionListener`` through the py4j callback
    server; the listener bus calls it after each execution (actions,
    writes, and the program's internal queries alike).
    """

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        self._sc = spark.sparkContext
        ensure_callback_server_started(self._sc._gateway)
        self.plans: list = []
        self.failures: list[str] = []
        self.active = False
        # registered once: py4j hands the JVM a new proxy per call, so an
        # unregister(self) would never match the registered listener
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        if self.active:
            self.plans.append(qe.executedPlan())

    def onFailure(self, func_name, qe, exc):  # noqa: N802 (Java API)
        if self.active:
            self.failures.append(f"{func_name}: {exc}")

    def attach(self) -> None:
        self._flush()
        self.plans, self.failures = [], []
        self.active = True

    def detach(self) -> list:
        """Wait until every queued execution event reached the listener,
        stop capturing, and return the captured plans."""
        self._flush()
        self.active = False
        return self.plans

    def _flush(self) -> None:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
