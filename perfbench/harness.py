"""Measurement helpers shared by the workloads: sample statistics, the
tail-percentile rule, a process-tree RSS sampler, Spark job/task counters
read from outside the program, and a tiny closed-loop HTTP client."""

from __future__ import annotations

from http.client import HTTPConnection
import json
import os
import threading
import time


# -- statistics ------------------------------------------------------------

def median(values):
    vals = sorted(values)
    if not vals:
        return None
    mid = len(vals) // 2
    return vals[mid] if len(vals) % 2 else (vals[mid - 1] + vals[mid]) / 2


def tail(values, beyond: int = 10):
    """The highest percentile that still has at least ``beyond`` samples
    above it: the sample with exactly ``beyond`` larger samples. Fewer
    than ``2 * beyond`` samples cannot support anything above the median,
    so the median is reported. Returns (value, percentile, n)."""
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        return None, None, 0
    if n < 2 * beyond:
        return median(vals), 50.0, n
    return vals[n - beyond - 1], 100.0 * (n - beyond) / n, n


class Samples:
    """Per-operation latency samples and counters, filled by the client
    threads (one lock for all of them; appends are tiny)."""

    def __init__(self):
        self._mu = threading.Lock()
        self.lat: dict[str, list[float]] = {}
        self.units: dict[str, int] = {}  # entities / rows moved per op
        self.bytes: dict[str, int] = {}  # response bytes per op
        self.attempted = 0
        self.failed = 0       # unexpected errors and output-check failures
        self.refused = 0      # documented refusals (HTTP 500 over-cap index)
        self.http_errors = 0  # non-200 replies, refusals included
        self.notes: list[str] = []

    def add(self, op: str, seconds: float, units: int = 0,
            attempt: bool = True) -> None:
        """A successful op. ``attempt=False`` for a sample that times ops
        already counted (a composite of them)."""
        with self._mu:
            self.lat.setdefault(op, []).append(seconds)
            self.units[op] = self.units.get(op, 0) + units
            self.attempted += attempt

    def add_bytes(self, op: str, n: int) -> None:
        with self._mu:
            self.bytes[op] = self.bytes.get(op, 0) + n

    def fail(self, op: str, why: str) -> None:
        with self._mu:
            self.attempted += 1
            self.failed += 1
            self.http_errors += why.startswith("HTTP ")
            if len(self.notes) < 20:
                self.notes.append(f"{op}: {why}")

    def refuse(self, op: str, seconds: float) -> None:
        with self._mu:
            self.lat.setdefault(op + ".refused", []).append(seconds)
            self.attempted += 1
            self.refused += 1
            self.http_errors += 1

    def check_failed(self, why: str) -> None:
        """An output check that did not hold: counted against the run."""
        with self._mu:
            self.attempted += 1
            self.failed += 1
            if len(self.notes) < 20:
                self.notes.append(f"check: {why}")

    def check_passed(self) -> None:
        with self._mu:
            self.attempted += 1

    def absorb_counts(self, other: "Samples") -> None:
        """Take another run phase's outcomes but not its latencies (the
        warm-up's operations count; their timings do not)."""
        with self._mu:
            self.attempted += other.attempted
            self.failed += other.failed
            self.refused += other.refused
            self.http_errors += other.http_errors
            self.notes += other.notes


# -- memory ----------------------------------------------------------------

def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process plus its descendants (the
    Spark JVM and its Python workers), sampled every ``period`` s."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def sample(self) -> None:
        total = sum(_rss_kb(p) for p in _tree_pids(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# -- Spark work, read from outside -----------------------------------------

class SparkCounters:
    """Spark jobs, tasks and job time per operation, read through
    ``statusTracker()`` and the status store (works with the UI off).
    An operation runs under its own job group on the thread that submits
    the jobs (``begin``); ``end`` then attributes every job of the group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self._mu = threading.Lock()
        self._seq = 0
        self.per_op: dict[str, dict[str, float]] = {}

    def begin(self, op: str) -> str:
        with self._mu:
            self._seq += 1
            group = f"bench-{op}-{self._seq}"
        self.sc.setJobGroup(group, op)
        return group

    def end(self, op: str, group: str) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = tasks = 0
        job_ms = 0.0
        for jid in self.tracker.getJobIdsForGroup(group):
            jobs += 1
            try:
                data = self.store.job(int(jid))
            except Exception:  # evicted from the status store: count only
                continue
            tasks += int(data.numTasks())
            sub, done = data.submissionTime(), data.completionTime()
            if sub.isDefined() and done.isDefined():
                job_ms += done.get().getTime() - sub.get().getTime()
        with self._mu:
            agg = self.per_op.setdefault(
                op, {"ops": 0, "jobs": 0, "tasks": 0, "job_ms": 0.0})
            agg["ops"] += 1
            agg["jobs"] += jobs
            agg["tasks"] += tasks
            agg["job_ms"] += job_ms

    def ratios(self, op: str) -> tuple[float, float, float]:
        agg = self.per_op.get(op)
        if not agg or not agg["ops"]:
            return 0.0, 0.0, 0.0
        n = agg["ops"]
        return agg["jobs"] / n, agg["tasks"] / n, agg["job_ms"] / n


class FairLock:
    """A FIFO lock: waiters get it in arrival order, so a thread that
    releases and immediately re-acquires cannot starve the other."""

    def __init__(self):
        self._cv = threading.Condition()
        self._next = 0
        self._serving = 0

    def __enter__(self):
        with self._cv:
            ticket = self._next
            self._next += 1
            while self._serving != ticket:
                self._cv.wait()
        return self

    def __exit__(self, *exc):
        with self._cv:
            self._serving += 1
            self._cv.notify_all()


def both(a, b) -> None:
    """Run two client threads to completion; re-raise the first error."""
    errors: list[BaseException] = []

    def guard(fn):
        def body():
            try:
                fn()
            except BaseException as exc:  # surfaced after join
                errors.append(exc)
        return body

    threads = [threading.Thread(target=guard(a)),
               threading.Thread(target=guard(b))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


# -- closed-loop HTTP client ------------------------------------------------

class Reply:
    __slots__ = ("status", "body", "seconds")

    def __init__(self, status: int, body: bytes, seconds: float):
        self.status, self.body, self.seconds = status, body, seconds

    def json(self):
        return json.loads(self.body)


def request(base: str, method: str, path: str, body=None,
            headers: dict | None = None, timeout: float = 120.0) -> Reply:
    """One request; the clock covers send through the last body byte."""
    host, port = base.split("//", 1)[1].split(":")
    data = None
    hdrs = dict(headers or {})
    if body is not None:
        data = body if isinstance(body, bytes) else json.dumps(body).encode()
        hdrs.setdefault("Content-Type", "application/json")
    conn = HTTPConnection(host, int(port), timeout=timeout)
    try:
        t0 = time.perf_counter()
        conn.request(method, path, body=data, headers=hdrs)
        resp = conn.getresponse()
        payload = resp.read()
        return Reply(resp.status, payload, time.perf_counter() - t0)
    finally:
        conn.close()

