"""Run context shared by the workloads: one Spark session, a closed
loop of timed operations, and the result line.

An operation is timed from the call until its last row is collected or
written to the ``noop`` sink (reads), or until the commit returns
(writes). Each operation's Spark jobs run under the job group
``<op id>/build`` or ``<op id>/execute``, so the event log and the
status tracker can attribute them without any change to the engine.
"""

from __future__ import annotations

import gc
import os
import resource
import time
import traceback
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

from perfbench import stats

NCPU = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "2g"
SETUP_REPS = 3


@dataclass
class Op:
    id: str
    kind: str
    cls: str  # "read", "write" or "other"
    ms: float
    ok: bool
    build_ms: float = 0.0
    exec_ms: float = 0.0
    module: str | None = None
    plan: dict | None = None
    jobs: dict = field(default_factory=dict)  # phase -> job count
    error: str | None = None


class Run:
    """State of one benchmark run. ``work`` is a fresh directory inside
    the checkout that holds every file the run writes."""

    def __init__(self, seed: int, trace: bool, work: str, log) -> None:
        self.seed = seed
        self.trace = trace
        self.work = work
        self.log = log
        self.spark = None
        self.ops: list[Op] = []
        self.tracer = None  # a spans.Tracer while the traced window runs
        self.setup: dict[str, float] = {}
        self.checks = 0
        self.check_failures: list[str] = []
        self.report: dict = {}
        self._seq = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # ------------------------------------------------------------ session
    def start_spark(self) -> None:
        from sample_emr_on_eks_fgac_iceberg_spark.session import build_session

        os.makedirs(self.path("tmp"), exist_ok=True)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("spark-warehouse"),
            # a fixed-size heap: a heap that grows on the collector's
            # timing makes peak memory differ run to run
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={self.path('tmp')}",
        }
        if self.trace:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = build_session(master=f"local[{NCPU}]", shuffle_partitions=NCPU,
                                   extra_conf=conf)
        self.setup["session_ms"] = (time.perf_counter() - t0) * 1000.0
        self._group("bench", "setup")

    def jvm_process(self):
        from pyspark import SparkContext

        return getattr(SparkContext._gateway, "proc", None)

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this Python process plus the JVM it
        launched (each process's own high-water mark)."""
        py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        jvm_mb = 0.0
        proc = self.jvm_process()
        if proc is not None:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_mb = int(line.split()[1]) / 1024.0
        self.report.update(python_rss_mb=py_mb, jvm_rss_mb=jvm_mb)
        return py_mb + jvm_mb

    def stop_spark(self) -> None:
        """Stop Spark, then the JVM and every process it started, and
        wait for each to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        proc = self.jvm_process()
        kids = _descendants(proc.pid) if proc is not None else []
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 15
        for pid in kids:
            while _alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                os.kill(pid, 9)

    # ---------------------------------------------------------- operations
    def _group(self, op_id: str, phase: str) -> None:
        self.spark.sparkContext.setJobGroup(f"{op_id}/{phase}", op_id)

    def release_blocks(self) -> None:
        """Drop cached tables and persisted RDD blocks (lazy
        ``localCheckpoint`` barriers) so one operation's residue does not
        slow the next; outside every timed region."""
        self._group("bench", "idle")
        self.spark.catalog.clearCache()
        rdds = self.spark.sparkContext._jsc.sc().getPersistentRDDs()
        it = rdds.iterator()
        while it.hasNext():
            it.next()._2().unpersist(False)
        gc.collect()

    def op(self, kind: str, cls: str, build: Callable, execute: Callable | None = None,
           expect: type[BaseException] | None = None, module: str | None = None,
           plan: Callable | None = None):
        """Run and time one operation: ``build()`` then, if given,
        ``execute(built)``. ``expect`` names the exception the operation
        must raise (an expected denial is a success). ``plan(built)``
        runs between the phases in traced windows, outside the timing.
        Returns the built value, or None when the operation failed."""
        self._seq += 1
        oid = f"{self._seq}:{kind}"
        tracer = self.tracer
        if tracer is not None:
            tracer.op = oid
        rec = Op(oid, kind, cls, 0.0, True, module=module)
        value = None
        t0 = time.perf_counter()
        t_exec = 0.0
        try:
            self._group(oid, "build")
            value = build()
            rec.build_ms = (time.perf_counter() - t0) * 1000.0
            if execute is not None:
                if tracer is not None and plan is not None:
                    rec.plan = plan(value)
                self._group(oid, "execute")
                t1 = time.perf_counter()
                execute(value)
                t_exec = time.perf_counter() - t1
            if expect is not None:
                rec.ok = False
                rec.error = f"expected {expect.__name__}, got a result"
        except Exception as e:  # the loop must go on; the failure is counted
            if expect is not None and isinstance(e, expect):
                rec.build_ms = (time.perf_counter() - t0) * 1000.0
            else:
                rec.ok = False
                rec.error = f"{type(e).__name__}: {e}"
                self.log.write(f"[{oid}] failed\n{traceback.format_exc()}\n")
            value = None
        rec.exec_ms = t_exec * 1000.0
        rec.ms = rec.build_ms + rec.exec_ms
        self._group("bench", "idle")
        if tracer is not None:
            st = self.spark.sparkContext.statusTracker()
            rec.jobs = {ph: len(st.getJobIdsForGroup(f"{oid}/{ph}")) for ph in ("build", "execute")}
            tracer.op = None
        self.ops.append(rec)
        return value

    def measure(self, steps: Iterator[Callable[[], None]], seconds: float = 0.0,
                min_ops: int = 0, n_steps: int | None = None) -> dict:
        """Closed loop with one client: run ``steps`` (each one or more
        operations) until ``seconds`` have passed and at least
        ``min_ops`` operations ran, or, given ``n_steps``, exactly that
        many steps. Returns the window's ops, step count and wall time."""
        first = len(self.ops)
        done = 0
        t0 = time.perf_counter()
        for step in steps:
            step()
            done += 1
            if n_steps is not None:
                if done >= n_steps:
                    break
            elif time.perf_counter() - t0 >= seconds and len(self.ops) - first >= min_ops:
                break
        return {"ops": self.ops[first:], "steps": done, "wall_s": time.perf_counter() - t0}

    # ------------------------------------------------------------- checks
    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.checks += 1
        if not ok:
            self.check_failures.append(f"{what}: {detail}")

    # ------------------------------------------------------------- result
    def end_to_end(self, window: dict) -> dict[str, tuple[float, str]]:
        ops = [o for o in window["ops"] if o.ok]
        reads = [o.ms for o in ops if o.cls == "read"]
        writes = [o.ms for o in ops if o.cls == "write"]
        by_kind: dict[str, list[float]] = {}
        for o in ops:
            by_kind.setdefault(o.kind, []).append(o.ms)
        self.report.update({
            "read_n": len(reads),
            "read_p90_ms": stats.tail_percentile(reads, 90),
            "write_n": len(writes),
            "write_p50_ms": stats.median(writes) if writes else None,
            "write_p90_ms": stats.tail_percentile(writes, 90),
            "kind_median_ms": {k: round(stats.median(v), 3) for k, v in sorted(by_kind.items())},
            "kind_n": {k: len(v) for k, v in sorted(by_kind.items())},
            "window_s": window["wall_s"],
        })
        return {
            "setup_s": (self.setup_s(), "s"),
            "read_p50_ms": (stats.median(reads), "ms"),
            "geomean_ms": (stats.geomean_of_medians(by_kind), "ms"),
            "ops_per_s": (len(ops) / window["wall_s"], "ops/s"),
            "peak_rss_mb": (self.peak_rss_mb(), "MB"),
        }

    def setup_s(self) -> float:
        """Session start + the median of ``SETUP_REPS`` data set-ups +
        warm-up."""
        s = self.setup
        return (s["session_ms"] + stats.median(s["data_ms"]) + s["warmup_ms"]) / 1000.0

    def counts(self) -> tuple[int, int]:
        """(attempted, failed) over every operation, warm-up included,
        and every output check."""
        attempted = len(self.ops) + self.checks
        failed = sum(not o.ok for o in self.ops) + len(self.check_failures)
        return attempted, failed


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = []
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            tasks = []
        for t in tasks:  # a child belongs to the thread that forked it
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids.extend(int(x) for x in f.read().split())
            except OSError:
                pass
        out.extend(kids)
        todo.extend(kids)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False
