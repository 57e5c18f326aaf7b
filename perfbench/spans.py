"""Outside-in tracing for the benchmark.

Spans are recorded around calls into the engine's public functions by
wrapping them from here; nothing inside ``pulsar_internal_spark`` is
changed. Each span has a name, a start, an end and its parent span (the
span open on the same thread when it began). py4j round trips are
counted by wrapping the gateway client's ``send_command`` and charged to
the innermost open span of the calling thread. Spark's own accounting
(jobs, stages, SQL metrics) is read from the driver's status stores
after the measured window. Spans are kept in memory; the runner reduces
them to per-layer metrics and writes them out when the run ends.
"""

from __future__ import annotations

import functools
import re
import threading
import time


class Span:
    __slots__ = ("name", "kind", "start", "end", "parent", "py4j_calls", "py4j_s")

    def __init__(self, name: str, kind: str, parent: "Span | None"):
        self.name = name
        self.kind = kind
        self.parent = parent
        self.start = time.time()
        self.end: float | None = None
        self.py4j_calls = 0
        self.py4j_s = 0.0


class Tracer:
    """Collects spans and py4j counts. A disabled tracer wraps nothing
    and records nothing, so the untraced run executes the bare engine."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, kind: str):
        return _SpanCtx(self, name, kind)

    def _open(self, name: str, kind: str) -> Span | None:
        if not self.enabled:
            return None
        st = self._stack()
        sp = Span(name, kind, st[-1] if st else None)
        st.append(sp)
        with self._lock:
            self.spans.append(sp)
        return sp

    def _close(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.time()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()

    def wrap(self, owner, attr: str, kind: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(f"{kind}:{attr}", kind):
                return fn(*a, **kw)

        self._undo.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def wrap_py4j(self, gateway_client) -> None:
        """Count and time every py4j round trip of ``gateway_client``."""
        if not self.enabled:
            return
        send = gateway_client.send_command

        def counted(*a, **kw):
            t0 = time.perf_counter()
            try:
                return send(*a, **kw)
            finally:
                st = self._stack()
                if st:  # calls outside any span are not layer work
                    st[-1].py4j_calls += 1
                    st[-1].py4j_s += time.perf_counter() - t0

        self._undo.append((gateway_client, "send_command", send))
        gateway_client.send_command = counted

    def unwrap(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    # -- reductions ---------------------------------------------------
    def closed(self, since: float) -> list[Span]:
        return [s for s in self.spans if s.end is not None and s.start >= since]

    @staticmethod
    def self_time(spans: list[Span]) -> dict[int, float]:
        """Span id -> duration minus the union its direct children cover."""
        kids: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                kids.setdefault(id(s.parent), []).append(s)
        out = {}
        for s in spans:
            covered = union_length([(c.start, c.end) for c in kids.get(id(s), [])])
            out[id(s)] = (s.end - s.start) - covered
        return out


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, kind: str):
        self.t, self.name, self.kind = tracer, name, kind

    def __enter__(self):
        self.sp = self.t._open(self.name, self.kind)
        return self.sp

    def __exit__(self, *exc):
        self.t._close(self.sp)
        return False


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def within(t: float, spans: list[Span]) -> bool:
    return any(s.start <= t <= s.end for s in spans)


# -- Spark status stores ------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}
_VALUE = re.compile(r"([-0-9.]+)\s*([A-Za-z]+)?")

PY_METRICS = {
    "time to run Python workers": "py_total_s",
    "time to start Python workers": "py_boot_s",
    "data sent to Python workers": "py_mb_sent",
    "data returned from Python workers": "py_mb_received",
}


def _parse_metric(text: str) -> float:
    """A formatted SQL metric value (``'2.0 s'``, or
    ``'total (min, med, max ...)\\n2.0 s (...)'``) -> seconds or bytes."""
    body = text.rsplit("\n", 1)[-1]
    m = _VALUE.match(body.strip())
    if not m:
        return 0.0
    return float(m.group(1)) * _UNITS.get(m.group(2) or "", 1.0)


def _jiter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class SparkCounters:
    """Reads jobs, stages and SQL metrics from the driver's status
    stores for everything submitted after ``mark()``."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.gw = spark.sparkContext._gateway
        self.since_ms = 0

    def mark(self) -> None:
        self.since_ms = int(time.time() * 1000)

    def jobs(self) -> list[tuple[int, float, float]]:
        """(job id, submit s, end s) of finished jobs since mark()."""
        out = []
        for j in _jiter(self.jsc.statusStore().jobsList(None)):
            sub, end = j.submissionTime(), j.completionTime()
            if sub.isEmpty() or end.isEmpty():
                continue
            t0 = sub.get().getTime()
            if t0 >= self.since_ms:
                out.append((j.jobId(), t0 / 1000.0, end.get().getTime() / 1000.0))
        return out

    def stages(self) -> dict[str, float]:
        tot = dict.fromkeys(
            ("tasks", "run_s", "cpu_s", "gc_s", "input_mb", "shuffle_write_mb",
             "shuffle_read_mb", "spill_mb"), 0.0)
        empty = self.gw.new_array(self.gw.jvm.double, 0)
        for s in _jiter(self.jsc.statusStore().stageList(None, False, False, empty, None)):
            sub = s.submissionTime()
            if sub.isEmpty() or sub.get().getTime() < self.since_ms:
                continue
            tot["tasks"] += s.numCompleteTasks()
            tot["run_s"] += s.executorRunTime() / 1e3
            tot["cpu_s"] += s.executorCpuTime() / 1e9
            tot["gc_s"] += s.jvmGcTime() / 1e3
            tot["input_mb"] += s.inputBytes() / 2**20
            tot["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            tot["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
            tot["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
        return tot

    def python_workers(self) -> dict[str, float]:
        """Arrow/pandas worker SQL metrics summed over SQL executions
        submitted since mark()."""
        tot = dict.fromkeys(PY_METRICS.values(), 0.0)
        sq = self.spark._jsparkSession.sharedState().statusStore()
        for e in _jiter(sq.executionsList()):
            if e.submissionTime() < self.since_ms:
                continue
            ids = {}
            for m in _jiter(e.metrics()):
                key = PY_METRICS.get(m.name())
                if key:
                    ids[m.accumulatorId()] = key
            if not ids:
                continue
            vals = {
                kv._1(): kv._2() for kv in _jiter(sq.executionMetrics(e.executionId()))
            }
            for acc, key in ids.items():
                if acc in vals:
                    tot[key] += _parse_metric(vals[acc])
        for k in ("py_mb_sent", "py_mb_received"):
            tot[k] /= 2**20
        return tot

    def staged_mb(self) -> float:
        """Block-manager bytes (memory + disk) held right now."""
        total = 0
        for ex in _jiter(self.jsc.statusStore().executorList(True)):
            total += ex.memoryUsed() + ex.diskUsed()
        return total / 2**20


def catalyst_phases(df) -> dict[str, float]:
    """Force analysis, optimization and physical planning of ``df``'s
    own QueryExecution and return the planning tracker's phase times
    in seconds. The Dataset caches the result, so a later ``collect``
    on the same frame reuses it."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    for kv in _jiter(qe.tracker().phases()):
        out[kv._1()] = kv._2().durationMs() / 1e3
    return out
